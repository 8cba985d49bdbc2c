"""Tests of the benchmark itself. They start Spark, so they take minutes.

    python3 -m unittest perfbench/test_bench.py      (from the checkout root)

Every workload runs at sf0.001 with a fixed seed, untraced and traced; each
run must report exactly the metrics BENCHMARK.json names, with their units,
and pass its output check. A run against an expected table with one wrong
hash must count that gate's calls as failed.
"""
import json
import math
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def bench(workload, trace, expected=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--scale", "sf0.001"]
    if expected:
        cmd += ["--expected", expected]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=1200)
    if p.returncode != 0:
        raise AssertionError(f"{cmd} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


class BenchmarkTest(unittest.TestCase):
    def check_metrics(self, result, kind):
        want = {m["name"]: m["unit"] for m in SPEC[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        self.assertEqual(got, want)
        for name, m in result["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
            self.assertTrue(math.isfinite(m["value"]), name)

    def test_every_metric_reported_with_its_unit(self):
        for w in SPEC["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = bench(w["name"], trace)
                    self.assertEqual(set(r), {"correct", "attempted",
                                              "failed", "metrics"})
                    self.assertTrue(r["correct"])
                    self.assertEqual(r["failed"], 0)
                    self.assertGreaterEqual(r["attempted"], 1)
                    self.check_metrics(r, kind)
                    if trace:
                        self.assertEqual(
                            r["metrics"]["check.failed_frac"]["value"], 0)

    def test_wrong_expected_hash_counts_as_failed(self):
        with open(os.path.join(HERE, "expected.tsv")) as f:
            lines = f.readlines()
        target = next(i for i, l in enumerate(lines)
                      if l.startswith("sf0.001\tq1_agg\t"))
        sf, gate, h, rows = lines[target].rstrip("\n").split("\t")
        lines[target] = f"{sf}\t{gate}\t{int(h) ^ 1}\t{rows}\n"
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.NamedTemporaryFile("w", suffix=".tsv", dir=scratch,
                                         delete=False) as f:
            f.writelines(lines)
        try:
            r = bench("interactive", 1, expected=f.name)
        finally:
            os.remove(f.name)
        self.assertFalse(r["correct"])
        self.assertGreaterEqual(r["failed"], 1)
        self.assertGreater(r["metrics"]["check.failed_frac"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
