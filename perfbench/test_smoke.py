"""Smoke test of the benchmark: every workload at tiny scale, plus one run
with a corrupted reference value that must surface as a failed operation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a graft checkout; the first run builds (see run.py).
"""
import json
import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(workload, *extra):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "1", "--scale", "tiny", *extra],
                       capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return lines[-2], json.loads(lines[-1])


class SmokeTest(unittest.TestCase):
    def check_clean(self, workload, layer_metric):
        summary, r = run(workload)
        self.assertTrue(r["correct"], summary)
        self.assertEqual(r["failed"], 0, summary)
        self.assertGreaterEqual(r["attempted"], 1)
        self.assertIn("failed_frac=0", summary)
        self.assertGreater(r["metrics"][layer_metric]["value"], 0, layer_metric)

    def test_driver_heavy(self):
        self.check_clean("driver_heavy", "operators.build_jobs")

    def test_relational_short(self):
        self.check_clean("relational_short", "exec.jobs")

    def test_dedup_maintain(self):
        self.check_clean("dedup_maintain", "DedupService.ingest_jobs")

    def test_corrupted_reference_fails_the_operation(self):
        summary, r = run("relational_short", "--corrupt", "q_cube")
        self.assertFalse(r["correct"], summary)
        self.assertEqual(r["failed"], 2, summary)  # one untraced, one traced q_cube
        self.assertIn("failed_frac=0.166667 (2/12)", summary)


if __name__ == "__main__":
    unittest.main()
