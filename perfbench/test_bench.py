#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 perfbench/test_bench.py

Smoke: every workload in BENCHMARK.json runs one op at scale 0.001, untraced
and traced, and must print exactly the metrics BENCHMARK.json names, each
with its unit, with every output correct. Corruption: a run against an
expected-fingerprint file with the workload's fingerprints altered must
report every op it ran as failed.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


class Smoke(unittest.TestCase):
    def check(self, workload, trace, listed):
        r = bench(workload, trace)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"], r)
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"] for m in listed}
        got = {k: v["unit"] for k, v in r["metrics"].items()}
        self.assertEqual(got, want)
        for k, v in r["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)
        return r

    def test_every_workload_prints_every_metric(self):
        for w in [w["name"] for w in SPEC["workloads"]]:
            with self.subTest(workload=w):
                r = self.check(w, 0, SPEC["end_to_end"])
                for m in SPEC["end_to_end"]:
                    self.assertGreater(r["metrics"][m["name"]]["value"], 0, m["name"])
                self.check(w, 1, SPEC["per_layer"])


class Corruption(unittest.TestCase):
    def test_wrong_fingerprint_is_reported(self):
        # medallion: q03's fingerprint; registry: every query's
        for workload, gold in [("medallion_refresh", True), ("registry_reads", False)]:
            with self.subTest(workload=workload):
                with open(os.path.join(HERE, "expected", "scale-0.001.json")) as f:
                    exp = json.load(f)
                for k, fp in exp["fingerprints"].items():
                    if (k == "q03_daily_sales_summary") == gold:
                        exp["fingerprints"][k] = "0" + fp
                bad = os.path.join(ROOT, ".bench_build", "corrupt-expected.json")
                os.makedirs(os.path.dirname(bad), exist_ok=True)
                with open(bad, "w") as f:
                    json.dump(exp, f)
                r = bench(workload, 0, "--expected", bad)
                self.assertFalse(r["correct"])
                self.assertGreaterEqual(r["attempted"], 1)
                self.assertEqual(r["failed"], r["attempted"])


if __name__ == "__main__":
    unittest.main()
