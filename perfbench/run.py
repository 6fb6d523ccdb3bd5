#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the program and the benchmark
(perfbench/build.py), then runs one workload in a single JVM with one
closed-loop client at local[nproc], in a fresh work root under
.bench_work that is removed afterwards. The last line of standard
output is the result object; the line before it is the full report.
Optional: --size default|tiny, --gen-only DIR --steps N (write the
generated inputs and exit).
"""
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_TIMEOUT_S = 170


def main(argv):
    args = dict(zip(argv[0::2], argv[1::2]))
    if len(argv) % 2 or "--workload" not in args or "--seed" not in args:
        print(__doc__, file=sys.stderr)
        return 2
    classes = build.build()
    jars = build.spark_jars()
    tag = f"{args['--workload']}-{args['--seed']}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(ROOT, ".bench_work", tag)
    os.makedirs(os.path.join(work, "javatmp"))
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/javatmp",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Main"] + argv + ["--work", work,
                                       "--out", os.path.join(ROOT, ".bench_out")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = line[len("PERFBENCH_RESULT "):]
        elif line.startswith("PERFBENCH_REPORT "):
            print(line[len("PERFBENCH_REPORT "):])
        else:
            print(line, file=sys.stderr)
    if "--gen-only" in args:
        return proc.returncode
    if proc.returncode != 0 or result is None:
        print(f"perfbench: run failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    json.loads(result)
    print(result)
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
