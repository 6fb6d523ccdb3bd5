#!/usr/bin/env python3
"""The benchmark's own tests. Run from the root of a checkout:

    python3 perfbench/test_perfbench.py

They check that the generator is deterministic, that every workload
passes a tiny-size smoke run with its outputs correct, and that the
metric names and units each run prints match BENCHMARK.json.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")
WORKLOADS = ["daily_etl", "star_refresh", "log_mixed"]


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(*args):
    p = subprocess.run([sys.executable, RUN, *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=600)
    return p


def scratch():
    """A fresh directory inside the checkout's ignored work area."""
    base = os.path.join(ROOT, ".bench_work")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(dir=base)


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        tmp = scratch()
        try:
            for w in WORKLOADS:
                dirs = {}
                for tag, seed in (("a", "7"), ("b", "7"), ("c", "8")):
                    d = os.path.join(tmp, f"{w}-{tag}")
                    p = run("--workload", w, "--seed", seed, "--gen-only", d,
                            "--steps", "4", "--size", "tiny")
                    self.assertEqual(p.returncode, 0, p.stderr[-2000:])
                    dirs[tag] = d
                self.assertTrue(os.listdir(dirs["a"]), w)
                self.assertTrue(same_tree(dirs["a"], dirs["b"]), f"{w}: same seed differs")
                self.assertFalse(same_tree(dirs["a"], dirs["c"]), f"{w}: seeds 7 and 8 agree")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class SmokeTest(unittest.TestCase):
    def check(self, workload, trace, section):
        p = run("--workload", workload, "--seed", "3", "--seconds", "2",
                "--trace", trace, "--size", "tiny")
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        report = json.loads(lines[-2])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], report.get("failures"))
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        want = {m["name"]: m["unit"] for m in bench_json()[section]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in result["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_untraced_runs_print_the_end_to_end_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(w, "0", "end_to_end")

    def test_traced_runs_print_the_per_layer_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check(w, "1", "per_layer")


class ContractTest(unittest.TestCase):
    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in bench_json()["workloads"]], WORKLOADS)

    def test_fails_outside_a_checkout(self):
        tmp = scratch()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "daily_etl",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
