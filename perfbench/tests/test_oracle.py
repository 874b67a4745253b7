"""The oracle check's failure count: run.py reads the PASS/FAIL lines of
tools/check.py, and an arm it reports neither way counts as failed.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import build  # noqa: E402
import run  # noqa: E402

ARMS = ["a", "b", "c"]
SCRATCH = os.path.join(ROOT, build.BUILD_DIR, "test-oracle")


def with_check(body):
    """A checkout whose tools/check.py is `body`; returns its root."""
    os.makedirs(SCRATCH, exist_ok=True)
    root = tempfile.mkdtemp(dir=SCRATCH)
    os.makedirs(os.path.join(root, "tools"))
    with open(os.path.join(root, "tools", "check.py"), "w") as f:
        f.write(body)
    return root


class OracleCheck(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_fail_lines_are_failures(self):
        root = with_check("print('PASS a (3 rows)')\nprint('FAIL b: rows 2 vs 3')\n"
                          "print('PASS c (1 rows)')\nraise SystemExit(1)\n")
        n, bad = run.oracle_check(root, "data", "out", ARMS)
        self.assertEqual(n, 3)
        self.assertEqual(bad, ["FAIL b: rows 2 vs 3"])

    def test_all_pass(self):
        root = with_check("for a in 'abc': print('PASS', a)\n")
        self.assertEqual(run.oracle_check(root, "data", "out", ARMS), (3, []))

    def test_a_crashed_check_fails_every_arm(self):
        root = with_check("raise RuntimeError('no duckdb')\n")
        n, bad = run.oracle_check(root, "data", "out", ARMS)
        self.assertEqual((n, len(bad)), (3, 3))

    def test_an_unreported_arm_fails(self):
        root = with_check("print('PASS a')\nprint('PASS b')\n")
        self.assertEqual(len(run.oracle_check(root, "data", "out", ARMS)[1]), 1)


if __name__ == "__main__":
    unittest.main()
