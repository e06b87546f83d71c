#!/usr/bin/env python3
"""The benchmark's own tests: a tiny-input pass of every workload named in
BENCHMARK.json, traced and untraced, plus the failure paths.

Run from the repository root:

    python3 perfbench/test_bench.py

Each test launches `perfbench/run.py --tiny` (small inputs, two measured
seconds), so the whole file takes a few minutes; the first test also builds
the harness if the sources changed since the last build.
"""
import json
import math
import os
import shutil
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def run(workload, *extra, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"),
                        "--workload", workload, "--seed", "7", "--seconds", "2", "--tiny", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = r.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return r, result


def detail(workload, trace):
    with open(os.path.join(BENCH, ".out", f"{workload}-seed7-trace{trace}.json")) as f:
        return json.load(f)


class BenchmarkTest(unittest.TestCase):
    def assert_metrics(self, result, wanted):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(result["attempted"], 1)
        for m in wanted:
            got = result["metrics"].get(m["name"])
            self.assertIsNotNone(got, f"{m['name']} not emitted")
            self.assertEqual(got["unit"], m["unit"], m["name"])
            self.assertTrue(isinstance(got["value"], (int, float)) and math.isfinite(got["value"]),
                            m["name"])

    def test_every_end_to_end_metric_is_emitted(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r, result = run(w, "--trace", "0")
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                self.assertTrue(result["correct"])
                self.assertEqual(result["failed"], 0)
                self.assert_metrics(result, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(result["metrics"][m["name"]]["value"], 0, m["name"])

    def test_every_per_layer_metric_is_emitted(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r, result = run(w, "--trace", "1")
                self.assertEqual(r.returncode, 0, r.stderr[-3000:])
                self.assertTrue(result["correct"])
                self.assert_metrics(result, SPEC["per_layer"])

    def test_corrupted_output_is_failed_and_not_timed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                r, result = run(w, "--trace", "0", "--corrupt")
                self.assertNotEqual(r.returncode, 0)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)
                d = detail(w, 0)
                self.assertTrue(d["failures"])
                if "samples" in d["extra"]:
                    # the corrupted execution (first op of the first pass) and
                    # every execution of the oracle-failed query are untimed
                    first = d["extra"]["samples"][0][0]
                    self.assertFalse(first[2])
                    timed = [s for p in d["extra"]["samples"] for s in p if s[2]]
                    bad = {f.split(":")[0] for f in d["failures"] if "oracle" in f}
                    self.assertTrue(bad)
                    self.assertEqual(result["attempted"] - result["failed"],
                                     len([s for s in timed if s[0] not in bad]))

    def test_fails_without_the_engine_sources(self):
        bare = os.path.join(BENCH, ".work", "bare-checkout")
        shutil.rmtree(bare, ignore_errors=True)
        ignore = shutil.ignore_patterns(".build", ".work", ".out", "target", "__pycache__")
        shutil.copytree(BENCH, os.path.join(bare, "perfbench"), ignore=ignore)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        try:
            r, result = run(WORKLOADS[0], "--trace", "0", cwd=bare)
            self.assertNotEqual(r.returncode, 0)
            self.assertIsNone(result)
        finally:
            shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    unittest.main(verbosity=2)
