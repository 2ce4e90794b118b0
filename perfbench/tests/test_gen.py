"""Generator determinism: the same seed writes identical bytes, a
different seed different ones.

Run from the repo root: python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def path(self, name):
        return os.path.join(self.tmp.name, name)

    def check(self, write):
        write(self.path("a"), 7)
        write(self.path("b"), 7)
        write(self.path("c"), 8)
        self.assertEqual(digest(self.path("a")), digest(self.path("b")))
        self.assertNotEqual(digest(self.path("a")), digest(self.path("c")))

    def test_events_are_deterministic_per_seed(self):
        self.check(lambda p, s: gen.write_events(p, 5000, s))

    def test_documents_are_deterministic_per_seed(self):
        self.check(lambda p, s: gen.write_documents(p, 300, s))

    def test_events_cover_every_operation_and_january(self):
        props = gen.write_events(self.path("e"), 5000, 3)
        self.assertEqual(props["operations"], 10)
        ts, *_ = gen.events_columns(5000, 3, 4000, 1.1)
        self.assertGreaterEqual(ts.min(), gen.JAN_2024_US)
        self.assertLess(ts.max(), gen.JAN_2024_US + 30 * gen.DAY_US)

    def test_zipf_skew_makes_a_hot_stream(self):
        props = gen.write_events(self.path("e"), 20000, 3)
        # a uniform spread over 64 streams would put ~1.6% on each
        self.assertGreater(props["hot_stream_share"], 0.05)

    def test_documents_carry_the_requested_duplicate_shares(self):
        props = gen.write_documents(self.path("d"), 2000, 3)
        self.assertAlmostEqual(props["exact_dup_share"], 0.04, delta=0.015)
        self.assertAlmostEqual(props["near_dup_share"], 0.04, delta=0.015)
        texts, *_ = gen.documents_columns(200, 3, 20000, 0.9, 0.0, 0.0, 0.9, 0.7)
        for t in texts:
            self.assertRegex(t, r"^[a-z]+( [a-z]+)*$")  # no punctuation for the quality rules


if __name__ == "__main__":
    unittest.main()
