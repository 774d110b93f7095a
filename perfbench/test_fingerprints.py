"""Input-generator fingerprint stability, end to end through the JVM.

Builds the harness if needed and generates every workload's inputs three
times (about a minute):

    python3 -m unittest perfbench/test_fingerprints.py

Run from the root of a checkout; skipped when the testdata is missing.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser("~/testdata/sf0.1")


@unittest.skipUnless(os.path.isdir(SRC), "testdata not found")
class GeneratorFingerprintTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        r = subprocess.run([sys.executable, "perfbench/run.py", "--selfcheck", "--seed", "7"],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        if r.returncode != 0:
            raise AssertionError(r.stderr[-3000:])
        cls.fps = json.loads(r.stdout.strip().splitlines()[-1])

    def test_same_seed_gives_identical_tables(self):
        for w, runs in self.fps.items():
            a, b = runs["same_seed"]
            self.assertTrue(a, w)
            self.assertEqual(a, b, w)

    def test_other_seed_changes_every_table(self):
        for w, runs in self.fps.items():
            a, c = runs["same_seed"][0], runs["next_seed"]
            self.assertEqual(sorted(a), sorted(c), w)
            for table in a:
                self.assertNotEqual(a[table], c[table], f"{w}/{table}")


if __name__ == "__main__":
    unittest.main()
