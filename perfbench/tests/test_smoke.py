"""Smoke: every workload end to end on small inputs (a few minutes; it
builds the program first if needed).

    python3 -m unittest perfbench/tests/test_smoke.py
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(HERE, "run.py")
sys.path.insert(0, HERE)

from bench import workloads  # noqa: E402


class SmokeTest(unittest.TestCase):
    def test_every_workload_runs_and_checks_clean(self):
        p = subprocess.run([sys.executable, RUN, "--smoke", "--seed", "5"],
                           capture_output=True, text=True, timeout=1500)
        lines = [json.loads(l) for l in p.stdout.splitlines() if l.startswith("{")]
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        self.assertEqual(len(lines), len(workloads.WORKLOADS))
        for r in lines:
            self.assertTrue(r["correct"], r)
            self.assertEqual(r["failed"], 0, r)
            self.assertGreater(r["attempted"], 0, r)
            self.assertEqual(set(r["metrics"]), {"setup_s", "cpu_s"})


if __name__ == "__main__":
    unittest.main()
