"""Tests for tools/bench_compare.py: run as
    python3 -m unittest discover -s tools -p 'test_*.py'
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "bench_compare.py")


class BenchCompareTest(unittest.TestCase):
    def compare(self, old, new):
        """(exit code, stdout) of bench_compare.py on two Bench outputs."""
        with tempfile.TemporaryDirectory() as d:
            paths = []
            for name, doc in (("old.json", old), ("new.json", new)):
                p = os.path.join(d, name)
                with open(p, "w") as f:
                    json.dump(doc, f)
                paths.append(p)
            r = subprocess.run([sys.executable, SCRIPT] + paths,
                               capture_output=True, text=True)
        return r.returncode, r.stdout

    def test_unchanged_times_pass(self):
        q = {"queries": {"a": 1.0, "b": 2.0}, "failed": []}
        self.assertEqual(self.compare(q, q)[0], 0)

    def test_inputs_without_failed_key_have_no_failures(self):
        q = {"queries": {"a": 1.0, "b": 2.0}}
        self.assertEqual(self.compare(q, q)[0], 0)

    def test_newly_failed_query_fails_the_gate_however_fast(self):
        old = {"queries": {"a": 1.0, "b": 2.0, "c": 3.0}}
        new = {"queries": {"a": 1.0, "b": 0.01, "c": 0.02},
               "failed": ["b", "c"]}
        code, out = self.compare(old, new)
        self.assertEqual(code, 1)
        self.assertIn("NEWLY FAILED", out)
        self.assertIn("  b\n", out)
        self.assertIn("  c\n", out)

    def test_query_failing_on_both_sides_is_not_new(self):
        old = {"queries": {"a": 1.0, "b": 0.01}, "failed": ["b"]}
        new = {"queries": {"a": 1.0, "b": 0.01}, "failed": ["b"]}
        code, out = self.compare(old, new)
        self.assertEqual(code, 0)
        self.assertNotIn("NEWLY FAILED", out)

    def test_time_regression_still_fails(self):
        old = {"queries": {"a": 1.0}}
        new = {"queries": {"a": 3.0}}
        code, out = self.compare(old, new)
        self.assertEqual(code, 1)
        self.assertIn("REGRESSIONS", out)


if __name__ == "__main__":
    unittest.main()
