#!/usr/bin/env python3
"""Tests of the benchmark's own accounting.

    python3 -m unittest perfbench/test_run.py      (from the repository root)

They run run.py on the `selftest` workload: one good key, one that throws
inside a task, one with a wrong answer and one over the workload's 4 s
per-key limit. The last three must count as failed and be charged the
limit. They also check that run.py refuses to run, without printing a
result, where the program's sources are missing.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")


def run(cwd, workload):
    return subprocess.run(
        [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


class FailureAccounting(unittest.TestCase):
    def test_throw_wrong_and_slow_keys_count_as_failed(self):
        r = run(ROOT, "selftest")
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        lines = r.stdout.strip().splitlines()
        summary, result = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((result["attempted"], result["failed"]), (4, 3))
        self.assertFalse(result["correct"])
        status = {f.split(": ")[0]: f.split(": ")[1] for f in summary["failures"]}
        self.assertEqual(status, {"selftest_throw": "throw", "selftest_wrong": "wrong",
                                  "selftest_slow": "timeout"})
        # Each failed key is charged the 4 s limit, never its own time.
        self.assertGreaterEqual(summary["pass_s"], 3 * 4.0)
        self.assertAlmostEqual(summary["failed_frac"], 0.75)

    def test_refuses_without_program_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target"))
            r = run(d, "dag_etl")
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
