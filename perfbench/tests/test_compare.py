"""Tests for the run comparison tool: python3 -m unittest discover perfbench/tests"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402


def write_runs(path, workload, metric, unit, values):
    with open(path, "w") as f:
        for i, v in enumerate(values):
            f.write(json.dumps({"workload": workload, "seed": i, "trace": 0, "result": {
                "correct": True, "attempted": 1, "failed": 0,
                "metrics": {metric: {"value": v, "unit": unit}}}}) + "\n")


class CompareTest(unittest.TestCase):
    def test_summary_uses_statistics_quartiles(self):
        n, med, q1, q3, spread = compare.summary([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((n, med, q1, q3), (5, 3.0, 1.5, 4.5))
        self.assertAlmostEqual(spread, 1.0)

    def test_verdicts(self):
        base = [1.00, 1.01, 0.99, 1.00, 1.02]
        self.assertEqual(compare.verdict(base, [1.05, 1.04, 1.06, 1.05, 1.05], "lower", 0.1),
                         "agreeing")
        self.assertEqual(compare.verdict(base, [1.3, 1.31, 1.29, 1.3, 1.3], "lower", 0.1),
                         "regressed")
        # throughput: lower is worse
        self.assertEqual(compare.verdict(base, [0.8, 0.8, 0.8, 0.8, 0.8], "higher", 0.1),
                         "regressed")
        noisy = [0.5, 1.5, 1.0, 0.7, 1.4]
        self.assertEqual(compare.verdict(base, noisy, "lower", 0.1), "unresolved")
        # wide spread, but every new run beats every base run
        self.assertEqual(compare.verdict(noisy, [0.1, 0.2, 0.3, 0.2, 0.25], "lower", 0.1),
                         "agreeing")

    def test_cli_flags_regression_by_exit_code(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a.jsonl"), os.path.join(d, "b.jsonl")
            write_runs(a, "cdc_merge", "op_cpu_s", "s", [1.0, 1.01, 0.99, 1.0])
            write_runs(b, "cdc_merge", "op_cpu_s", "s", [2.0, 2.01, 1.99, 2.0])
            tool = os.path.join(os.path.dirname(compare.__file__), "compare.py")
            same = subprocess.run([sys.executable, tool, a, a], capture_output=True, text=True)
            self.assertEqual(same.returncode, 0, same.stdout)
            self.assertIn("agreeing", same.stdout)
            worse = subprocess.run([sys.executable, tool, a, b], capture_output=True, text=True)
            self.assertEqual(worse.returncode, 1)
            self.assertIn("regressed", worse.stdout)


if __name__ == "__main__":
    unittest.main()
