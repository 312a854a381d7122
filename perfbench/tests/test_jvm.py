"""Checks that need the built benchmark: seeded inputs are byte-identical
for a seed and differ across seeds, and the loopback LLM stub answers
within its latency bound. Builds on first use, like `run.py`; run from
the root of a checkout.
"""
import filecmp
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import run  # noqa: E402

ROOT = os.getcwd()


def jvm(args, work):
    cmd = run.java_command(run.build(ROOT), work, args)
    return subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          timeout=300)


def tree(d):
    return sorted(os.path.relpath(os.path.join(p, f), d)
                  for p, _, fs in os.walk(d) for f in fs)


class JvmTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        self.work = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))

    def tearDown(self):
        shutil.rmtree(self.work, ignore_errors=True)

    def generate(self, kind, seed, name):
        out = os.path.join(self.work, name)
        p = jvm(["gen", kind, str(seed), out], self.work)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        return out

    def assert_reproducible(self, kind):
        a = self.generate(kind, 7, "a")
        b = self.generate(kind, 7, "b")
        c = self.generate(kind, 8, "c")
        files = tree(a)
        self.assertTrue(files)
        self.assertEqual(files, tree(b))
        match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))
        _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
        self.assertTrue(differ, "seed 8 generated the same bytes as seed 7")

    def test_steam_landing_zone_is_reproducible(self):
        self.assert_reproducible("steam")

    def test_corpus_is_reproducible(self):
        self.assert_reproducible("corpus")

    def test_stub_round_trip_is_bounded(self):
        p = jvm(["stub-selftest"], self.work)
        self.assertEqual(p.returncode, 0, p.stdout[-2000:])
        self.assertIn("stub round trip", p.stdout)


if __name__ == "__main__":
    unittest.main()
