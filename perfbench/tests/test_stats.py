"""Tests of the benchmark's statistics and result emitter.

Run from the root of a checkout: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from stats import NAME_RE, covered, median, percentile, result_line, self_time  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_and_even(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)
        self.assertEqual(median([7.5]), 7.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            median([])


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation_with_count(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(percentile(xs, 50), (5.5, 10))
        self.assertAlmostEqual(percentile(xs, 90)[0], 9.1)
        self.assertEqual(percentile(xs, 0), (1, 10))
        self.assertEqual(percentile(xs, 100), (10, 10))

    def test_order_does_not_matter(self):
        self.assertEqual(percentile([5, 1, 4, 2, 3], 25), (2, 5))

    def test_single_sample(self):
        self.assertEqual(percentile([4.2], 90), (4.2, 1))

    def test_bad_input(self):
        with self.assertRaises(ValueError):
            percentile([], 50)
        with self.assertRaises(ValueError):
            percentile([1, 2], 101)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(self_time((0, 10), []), 10)

    def test_overlapping_children_counted_once(self):
        # children cover [1, 4] and [6, 9] -> 6 of 10 covered
        self.assertEqual(self_time((0, 10), [(1, 3), (2, 4), (6, 9)]), 4)

    def test_children_clipped_to_the_span(self):
        self.assertEqual(self_time((0, 10), [(-5, 2), (8, 20)]), 6)
        self.assertEqual(self_time((0, 10), [(11, 12)]), 10)

    def test_nested_and_touching_children(self):
        self.assertEqual(covered([(0, 5), (1, 2), (5, 7)], 0, 10), 7)


class EmitterTest(unittest.TestCase):
    def test_line_shape(self):
        line = result_line(True, 12, 0, {"pass_s": (1.25, "s"), "sched.jobs": (7, "count")})
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual(d["metrics"]["pass_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual(d["attempted"], 12)

    def test_metric_name_charset(self):
        for ok in ("setup_s", "ext.dedup.build_s", "q-1.x", "9lives"):
            self.assertTrue(NAME_RE.match(ok), ok)
        for bad in ("", "_lead", ".lead", "has space", "a/b", "x" * 65, "ünï"):
            self.assertFalse(NAME_RE.match(bad), bad)
            with self.assertRaises(ValueError):
                result_line(True, 1, 0, {bad: (1.0, "s")})

    def test_bad_unit_and_values_are_refused(self):
        with self.assertRaises(ValueError):
            result_line(True, 1, 0, {"m": (1.0, "seconds and more")})
        for v in (float("nan"), float("inf"), None, True, "1.0"):
            with self.assertRaises(ValueError):
                result_line(True, 1, 0, {"m": (v, "s")})
        with self.assertRaises(ValueError):
            result_line(True, 0, 0, {"m": (1.0, "s")})

    def test_every_declared_metric_name_is_valid(self):
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "..", "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertTrue(NAME_RE.match(n), n)


if __name__ == "__main__":
    unittest.main()
