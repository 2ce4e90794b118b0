"""The percentile rule and the self-time arithmetic.

Run from the repo root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.median(xs), 2.5)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 90), 90.0)

    def test_no_values_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_level(39))  # p75 would leave 9.75 beyond
        self.assertEqual(stats.tail_level(40), 75.0)
        self.assertEqual(stats.tail_level(100), 90.0)
        self.assertEqual(stats.tail_level(199), 90.0)
        self.assertEqual(stats.tail_level(200), 95.0)
        self.assertEqual(stats.tail_level(1000), 99.0)
        self.assertEqual(stats.tail_level(10000), 99.9)

    def test_summary_reports_median_tail_and_n(self):
        s = stats.summary([float(i) for i in range(1, 101)])
        self.assertEqual(s["n"], 100)
        self.assertEqual(s["p50"], 50.5)
        self.assertAlmostEqual(s["p90"], 90.1)
        self.assertEqual(stats.summary([1.0, 2.0]), {"n": 2, "p50": 1.5})


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(id_, parent, layer, start_s, end_s):
        return {"id": id_, "parent": parent, "layer": layer,
                "start_ns": int(start_s * 1e9), "end_ns": int(end_s * 1e9)}

    def test_children_are_subtracted_from_their_parent_only(self):
        spans = [
            self.span(1, 0, "pipeline", 0.0, 10.0),   # 10 s, 6 s of it in children
            self.span(2, 1, "driver", 1.0, 5.0),      # 4 s, 1 s of it in a child
            self.span(3, 2, "functions", 2.0, 3.0),   # 1 s leaf
            self.span(4, 1, "driver", 6.0, 8.0),      # 2 s leaf
            self.span(5, 0, "cdc", 20.0, 21.5),       # separate root
        ]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got["pipeline"], 4.0)
        self.assertAlmostEqual(got["driver"], 3.0 + 2.0)
        self.assertAlmostEqual(got["functions"], 1.0)
        self.assertAlmostEqual(got["cdc"], 1.5)
        # self times add up to the roots' wall time
        self.assertAlmostEqual(sum(got.values()), 10.0 + 1.5)


if __name__ == "__main__":
    unittest.main()
