#!/usr/bin/env python3
"""The OSM generator is deterministic: the same seed gives the same files.

Run from the root of a checkout: python3 perfbench/test_gen.py
(builds the harness first if needed, like run.py).
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def generate(seed, nodes=20000, diffs=3, diff_size=300):
    """{file name: sha256} of one generator run."""
    d = tempfile.mkdtemp(dir=run.WORK)
    try:
        out = subprocess.run(
            ["java", "-Xmx1g", "-cp", run.CLASSES + os.pathsep +
             os.path.join(run.spark_home(), "jars", "*"), "perfbench.OsmGen",
             d, str(seed), str(nodes), str(diffs), str(diff_size)],
            check=True, capture_output=True, text=True).stdout
        return dict(line.split() for line in out.splitlines())
    finally:
        shutil.rmtree(d, ignore_errors=True)


class GeneratorDeterminism(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        os.makedirs(run.WORK, exist_ok=True)
        run.build()

    def test_same_seed_same_digests(self):
        a = generate(7)
        self.assertEqual(sorted(a), ["base.pbf", "diff-001.o5c",
                                     "diff-002.o5c", "diff-003.o5c",
                                     "final.pbf"])
        self.assertEqual(a, generate(7))

    def test_other_seed_other_digests(self):
        a, b = generate(7), generate(8)
        for name in a:
            self.assertNotEqual(a[name], b[name], name)


if __name__ == "__main__":
    unittest.main()
