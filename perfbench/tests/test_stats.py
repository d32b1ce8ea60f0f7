import statistics
import unittest

import stats


class OrderStatistics(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))

    def test_quartiles_of_one_value(self):
        self.assertEqual(stats.quartiles([1.5]), (1.5, 1.5, 1.5))

    def test_spread_is_iqr_over_median(self):
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), (8.25 - 2.75) / 5.5)

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 0), 1)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile(xs, 50), 5.5)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([7], 90), 7)


class SpanArithmetic(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 2, 12), 10)
        self.assertEqual(stats.union_length([(0, 1)], 5, 9), 0)

    def test_self_time_with_overlapping_children(self):
        # children cover [10,40] and [30,60] -> 50 covered of a 100 span
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_self_time_clips_children_outside_the_span(self):
        # a child that started before and one that ends after the parent
        self.assertEqual(stats.self_time((10, 20), [(0, 12), (18, 30)]), 6)

    def test_self_time_without_children_is_duration(self):
        self.assertEqual(stats.self_time((3, 8), []), 5)


if __name__ == "__main__":
    unittest.main()
