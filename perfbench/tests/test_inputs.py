"""Seeded inputs: the same seed gives byte-identical inputs, another
seed gives different ones, for both generators (the engine's file trees
and the operator tables).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
The engine half compiles the benchmark first if needed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import build  # noqa: E402
import datagen_seeded  # noqa: E402

SCRATCH = os.path.join(ROOT, build.BUILD_DIR, "test-inputs")


def tree_digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def digests(self, make):
        out = []
        for i, seed in enumerate((1, 1, 2)):
            d = os.path.join(SCRATCH, f"run{i}")
            make(seed, d)
            out.append(tree_digest(d))
        return out

    def test_operator_tables(self):
        a, b, c = self.digests(
            lambda seed, d: datagen_seeded.generate(seed, 1, d, ROOT, fraction=0.2))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_engine_trees(self):
        classes, _ = build.ensure_built(ROOT)
        cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])

        def make(seed, d):
            subprocess.run(["java", "-cp", cp, "perfbench.GenInputs", str(seed), d, "2", "50"],
                           check=True)
        a, b, c = self.digests(make)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)


if __name__ == "__main__":
    unittest.main()
