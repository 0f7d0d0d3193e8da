"""Tests for the benchmark's statistics and failure counting.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class NearestRank(unittest.TestCase):
    def test_returns_a_sample_never_an_interpolation(self):
        self.assertEqual(stats.nearest_rank([1, 2, 3, 4], 0.5), 2)
        self.assertEqual(stats.nearest_rank([4, 1, 3, 2], 0.75), 3)

    def test_rank_is_ceiling_of_share(self):
        xs = list(range(1, 21))  # 1..20
        self.assertEqual(stats.nearest_rank(xs, 0.05), 1)
        self.assertEqual(stats.nearest_rank(xs, 0.3), 6)
        self.assertEqual(stats.nearest_rank(xs, 0.9), 18)
        self.assertEqual(stats.nearest_rank(xs, 1.0), 20)

    def test_single_sample(self):
        self.assertEqual(stats.nearest_rank([7.5], 0.5), 7.5)
        self.assertEqual(stats.nearest_rank([7.5], 0.99), 7.5)

    def test_rejects_empty_and_bad_share(self):
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 0.5)
        with self.assertRaises(ValueError):
            stats.nearest_rank([1], 0)
        with self.assertRaises(ValueError):
            stats.nearest_rank([1], 1.5)


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(99)), 0.9))
        self.assertEqual(stats.tail_percentile(list(range(100)), 0.9), 89)

    def test_p99_needs_a_thousand(self):
        self.assertIsNone(stats.tail_percentile(list(range(999)), 0.99))
        self.assertEqual(stats.tail_percentile(list(range(1000)), 0.99), 989)

    def test_median_of_a_small_run_is_allowed_to_be_none(self):
        self.assertIsNone(stats.tail_percentile(list(range(17)), 0.5))
        self.assertEqual(stats.tail_percentile(list(range(20)), 0.5), 9)
        self.assertIsNone(stats.tail_percentile([], 0.5))


class CountFailures(unittest.TestCase):
    expected = {"q1": "aa", "q2": "bb"}

    def op(self, name, kind="query", digest=None, error=None):
        return {"name": name, "kind": kind, "digest": digest, "error": error}

    def test_all_correct(self):
        ops = [self.op("q1", digest="aa"), self.op("q2", digest="bb"),
               self.op("delete_docs", kind="delete_docs")]
        self.assertEqual(stats.count_failures(ops, self.expected), (3, 0, []))

    def test_wrong_answer_and_exception_both_count(self):
        ops = [self.op("q1", digest="xx"), self.op("q2", error="boom"),
               self.op("append_docs", kind="append_docs", error="disk full")]
        attempted, failed, why = stats.count_failures(ops, self.expected)
        self.assertEqual((attempted, failed), (3, 3))
        self.assertEqual([n for n, _ in why], ["q1", "q2", "append_docs"])

    def test_unrecorded_query_is_a_failure_not_a_skip(self):
        attempted, failed, why = stats.count_failures([self.op("q9", digest="aa")], self.expected)
        self.assertEqual((attempted, failed), (1, 1))
        self.assertIn("no recorded digest", why[0][1])

    def test_every_repetition_is_checked(self):
        ops = [self.op("q1", digest="aa"), self.op("q1", digest="ab"), self.op("q1", digest="aa")]
        self.assertEqual(stats.count_failures(ops, self.expected)[:2], (3, 1))


class Geomean(unittest.TestCase):
    def test_geometric_mean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(stats.geomean([0.5, 0.5, 0.5]), 0.5)

    def test_halving_any_one_query_moves_it_equally(self):
        base = stats.geomean([0.1, 1.0, 10.0])
        self.assertAlmostEqual(stats.geomean([0.05, 1.0, 10.0]), stats.geomean([0.1, 1.0, 5.0]))
        self.assertLess(stats.geomean([0.05, 1.0, 10.0]), base)

    def test_rejects_empty(self):
        with self.assertRaises(ValueError):
            stats.geomean([])


class Spread(unittest.TestCase):
    def test_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([10, 10, 10, 10]), 0.0)
        vs = [9, 10, 10, 10, 11]
        self.assertAlmostEqual(stats.spread(vs), (10.5 - 9.5) / 10)


if __name__ == "__main__":
    unittest.main()
