#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload end to end at tiny size.

    python3 perfbench/smoke_test.py

For each workload it checks, untraced and traced, that the run is correct
and prints exactly the metrics BENCHMARK.json names, each with its unit;
that a deliberately wrong expected value makes every pass count as
failed; and that the benchmark refuses to run without the engine sources.
Takes a few minutes (one JVM per run).
"""
import json
import pathlib
import shutil
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(cwd, workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stdout + p.stderr[-4000:]


class Smoke(unittest.TestCase):
    def test_every_metric_with_its_unit(self):
        for w in WORKLOADS:
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    rc, r, log = run(ROOT, w, trace)
                    self.assertEqual(rc, 0, log)
                    self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(r["correct"], log)
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in SPEC[key]}
                    got = {k: v["unit"] for k, v in r["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in r["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)
                    if trace == 0:
                        for k, v in r["metrics"].items():
                            self.assertGreater(v["value"], 0, k)

    def test_wrong_expected_value_fails_every_pass(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, r, log = run(ROOT, w, 0, "--corrupt-expected")
                self.assertEqual(rc, 0, log)
                self.assertFalse(r["correct"])
                self.assertEqual(r["failed"], r["attempted"])

    def test_refuses_without_engine_sources(self):
        tmp = HERE / ".smoke"
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            shutil.copytree(HERE, tmp / "perfbench", ignore=shutil.ignore_patterns(
                ".data", ".work", ".smoke", "results", "target", "__pycache__"))
            shutil.copy(ROOT / "BENCHMARK.json", tmp)
            rc, r, _ = run(tmp, WORKLOADS[0], 0)
            self.assertNotEqual(rc, 0)
            self.assertIsNone(r)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
