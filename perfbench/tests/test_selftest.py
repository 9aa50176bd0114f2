"""Self-test of the benchmark's failure accounting: a query that throws and
a query whose result disagrees with its oracle SQL must both count as
failed on every timed pass, add no time, and make the run incorrect.

    python3 perfbench/tests/test_selftest.py     # from the repository root
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SelfTest(unittest.TestCase):
    def test_planted_failures_are_counted(self):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "query_mix",
             "--seed", "5", "--seconds", "1", "--trace", "0", "--selftest", "1"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        lines = out.stdout.strip().splitlines()
        diag, res = json.loads(lines[-2]), json.loads(lines[-1])
        self.assertFalse(res["correct"])
        failed = dict(diag["failed"])
        self.assertEqual(set(failed), {"selftest_throws", "selftest_wrong"})
        self.assertIn("planted failure", failed["selftest_throws"])
        self.assertIn("mismatch", failed["selftest_wrong"])
        passes = diag["timed_passes"]
        self.assertEqual(res["failed"], 2 * passes)
        self.assertEqual(res["attempted"], 19 * passes)
        self.assertEqual(diag["op_samples"], 17 * passes)


if __name__ == "__main__":
    unittest.main()
