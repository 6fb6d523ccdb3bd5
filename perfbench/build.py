#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala, src/main/resources) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships among the Spark jars, into one class directory under the build
directory (CARGO_TARGET_DIR if set, else .bench_build). A build is
keyed by a digest of every source file, so an unchanged tree is reused.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's own
    build.sbt compiles against (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        found = None
        if os.path.isfile(sbt):
            with open(sbt) as fh:
                found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if not found:
            raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jars = found.group(1)
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: run from a checkout of the repository "
                         "(src/main/scala is missing)")
    out = []
    for r in roots:
        for d, _, fs in os.walk(r):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    return res if os.path.isdir(res) else None


def digest(files, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    extra = []
    res = resources()
    if res:
        for d, _, fs in os.walk(res):
            extra += [os.path.join(d, f) for f in fs]
    for f in files + sorted(extra):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    jars = spark_jars()
    files = sources()
    out_root = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = os.path.join(out_root, "classes-" + digest(files, jars))
    if os.path.isdir(classes):
        return classes
    os.makedirs(out_root, exist_ok=True)
    tmp = f"{classes}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_root, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    try:
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
    finally:
        os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({rc})")
    res = resources()
    if res:
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    for old in os.listdir(out_root):
        if old.startswith("classes-") and os.path.join(out_root, old) != tmp:
            shutil.rmtree(os.path.join(out_root, old), ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
