"""The benchmark's own tests: every workload, at smoke size, prints every
metric BENCHMARK.json names with its unit, runs and checks more than one
timed pass when `--seconds` asks for it, and a corrupted result is
counted as a failure.

    python3 -m unittest discover -s lakebench -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["lifecycle", "analytics"]
# a traced run long enough for two smoke passes of the workload
TWO_PASSES_S = {"lifecycle": 45, "analytics": 30}


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, trace: int, corrupt: int = 0, seconds: int = 1):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", str(seconds), "--trace", str(trace), "--smoke", "1",
         "--corrupt", str(corrupt)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_metrics(self, result, names_units):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        got = result["metrics"]
        self.assertEqual(set(got), set(names_units))
        for name, unit in names_units.items():
            self.assertEqual(got[name]["unit"], unit, name)
            self.assertIsInstance(got[name]["value"], (int, float), name)

    def test_traced_run_prints_every_per_layer_metric(self):
        # later passes (fresh dataset trees, the second Lakehouse tick,
        # analytics results of pass 1) are checked too
        spec = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report, result = run(w, trace=1, seconds=TWO_PASSES_S[w])
                self.assertTrue(result["correct"], report["failures"])
                self.assertEqual(result["failed"], 0)
                self.assertGreaterEqual(report["sizes"]["passes"], 2)
                self.check_metrics(result, spec)

    def test_corrupted_output_counts_as_failure(self):
        spec = {m["name"]: m["unit"] for m in bench_spec()["end_to_end"]}
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report, result = run(w, trace=0, corrupt=1)
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)
                self.assertTrue(report["failures"])
                self.check_metrics(result, spec)
                for fig in report["end_to_end"].values():
                    self.assertIn("n", fig)
                    self.assertIn("unit", fig)


if __name__ == "__main__":
    unittest.main()
