"""Tiny-size smoke run of every workload with one planted wrong output.

Each run checks its clean output first (that check must pass) and then
the output with the planted fault (that check must fail, the run must
report correct=false, count the failed operation and exit non-zero).
The pyramid run is traced, so the incremental stream it measures is
checked too.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'

Takes a few minutes: one JVM per workload.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")
ROOT = os.path.dirname(os.path.dirname(HERE))
WORKLOADS = ["pyramid", "dedup", "operators"]


class SmokeTest(unittest.TestCase):
    def run_fault(self, workload, trace):
        p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "3",
                            "--seconds", "0.5", "--scale", "0.05", "--trace", str(trace), "--fault"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           text=True, timeout=600)
        lines = p.stdout.strip().splitlines()
        self.assertTrue(lines, p.stderr[-2000:])
        return p.returncode, lines, json.loads(lines[-1])

    def test_planted_faults_are_caught(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, lines, result = self.run_fault(w, 1 if w == "pyramid" else 0)
                self.assertIn("   clean output check: passed", lines, "\n".join(lines))
                self.assertFalse(result["correct"])
                self.assertGreaterEqual(result["failed"], 1)
                self.assertNotEqual(rc, 0)
                failed = [l for l in lines if "CHECK FAILED" in l]
                self.assertTrue(any(f"CHECK FAILED: {w}:" in l for l in failed), failed)
                if w == "pyramid":
                    self.assertTrue(any("CHECK FAILED: incremental:" in l for l in failed), failed)


if __name__ == "__main__":
    unittest.main()
