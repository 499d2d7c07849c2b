"""Unit tests of the steadiness report's arithmetic (python3 -m unittest)."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import steady  # noqa: E402


class SteadyTest(unittest.TestCase):
    def test_overhead_is_traced_over_untraced(self):
        self.assertAlmostEqual(steady.overhead_pct(1.1, 1.0), 10.0)
        self.assertAlmostEqual(steady.overhead_pct(0.9, 1.0), -10.0)

    def test_spread_uses_statistics_quartiles(self):
        med, q1, q3, sp = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual((med, q1, q3), (3.0, 1.5, 4.5))
        self.assertAlmostEqual(sp, 1.0)

    def test_count_diffs_ignore_times(self):
        units = {"a": "count", "b": "ms", "c": "bytes"}
        self.assertEqual(steady.count_diffs({"a": 1, "b": 2, "c": 3},
                                            {"a": 1, "b": 9, "c": 4}, units), ["c"])

    def test_human_lines_parse(self):
        vals = steady.human_values(["[cdcbench] batch_p50_s = 1.5000 s (n=4)", "noise"])
        self.assertEqual(vals, {"batch_p50_s": 1.5})


if __name__ == "__main__":
    unittest.main()
