"""Tests of the benchmark harness itself: the sweep coverage guard, and
failures that must be counted (never timed) and fail the command.

    python3 perfbench/test_bench.py
"""

import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
END_TO_END = ["setup_s", "turns_per_s", "sweep_s", "cpu_s", "batch_p50_s",
              "batch_tail_s", "out_bytes_per_in_byte", "files_written",
              "peak_exec_mem_mb", "ok_frac"]


def run(*args):
    p = subprocess.run([sys.executable, "-B", os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def sweep(*extra):
    return run("--workload", "operator_sweep", "--seed", "1", "--seconds", "1",
               "--trace", "0", "--queries", "q1_agg,token_count", *extra)


class HarnessTest(unittest.TestCase):

    def test_coverage_guard(self):
        code, _, err = run("--check-coverage")
        self.assertEqual(code, 0, err[-3000:])

    def test_clean_sweep_passes(self):
        code, res, err = sweep()
        self.assertEqual(code, 0, err[-3000:])
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 2)
        self.assertEqual(list(res["metrics"]), END_TO_END)
        self.assertEqual(res["metrics"]["ok_frac"]["value"], 1.0)

    def test_throwing_query_is_counted(self):
        code, res, err = sweep("--inject", "throw")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        # the throw is planted in the first pass only; a short run may
        # fit a second, clean pass
        self.assertEqual(res["failed"], 1)
        self.assertGreaterEqual(res["attempted"], 2)
        self.assertEqual(res["metrics"]["ok_frac"]["value"], 1 - 1 / res["attempted"])
        self.assertIn("injected failure", err)

    def test_wrong_sweep_output_is_counted(self):
        code, res, err = sweep("--inject", "wrong")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertIn("fingerprint", err)

    def test_wrong_pipeline_output_is_counted(self):
        code, res, err = run("--workload", "batch_job", "--seed", "1", "--seconds", "1",
                             "--trace", "0", "--convs", "300", "--inject", "wrong")
        self.assertNotEqual(code, 0)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertLess(res["metrics"]["ok_frac"]["value"], 1.0)
        self.assertIn("events_routed rows per sink", err)


if __name__ == "__main__":
    unittest.main()
