"""Unit tests of the benchmark's arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        samples = list(range(1, 33))  # 32 samples, shuffled order is irrelevant
        pct, value = stats.tail(samples[::-1])
        self.assertEqual(value, 22)  # 10 samples (23..32) lie beyond it
        self.assertAlmostEqual(pct, 68.75)

    def test_eleven_samples_is_the_smallest_with_a_percentile(self):
        self.assertEqual(stats.tail(range(11)), (100.0 / 11, 0))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))
        self.assertEqual(stats.tail([5.0] * 10), (100.0, 5.0))


class SpanTest(unittest.TestCase):
    def test_union_counts_overlaps_once(self):
        self.assertAlmostEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)

    def test_union_of_nested_and_touching_spans(self):
        self.assertAlmostEqual(stats.union_length([(0, 10), (2, 3), (10, 12)]), 12.0)
        self.assertEqual(stats.union_length([]), 0.0)

    def test_clip_keeps_the_parts_inside(self):
        self.assertEqual(stats.clip([(0, 2), (3, 8), (9, 10)], 1, 4), [(1, 2), (3, 4)])


class DriverGapTest(unittest.TestCase):
    def test_gap_is_wall_minus_build_plan_and_job_union(self):
        # build 0..1, write 1..5 with planning 0.5 and jobs 2..3 and 2.5..4
        jobs = [(0.2, 0.8), (2, 3), (2.5, 4)]  # the first job ran in the build
        self.assertAlmostEqual(stats.driver_gap(5.0, 1.0, 0.5, jobs, 1.0, 5.0), 1.5)

    def test_gap_is_never_negative(self):
        self.assertEqual(stats.driver_gap(1.0, 0.0, 0.6, [(0, 0.5)], 0, 1), 0.0)


class ChecksumTest(unittest.TestCase):
    SOURCE = {"orders": {"rows": 3, "sum": "17"}, "customer": {"rows": 1, "sum": "-4"}}

    def test_equal_tables_match(self):
        target = {"customer": {"rows": 1, "sum": "-4"}, "orders": {"rows": 3, "sum": "17"}}
        self.assertEqual(stats.checksum_mismatches(self.SOURCE, target), {})

    def test_content_or_count_difference_is_named(self):
        target = {"orders": {"rows": 3, "sum": "18"}, "customer": {"rows": 2, "sum": "-4"}}
        self.assertEqual(sorted(stats.checksum_mismatches(self.SOURCE, target)),
                         ["customer", "orders"])

    def test_missing_table_is_a_mismatch(self):
        target = {"orders": {"rows": 3, "sum": "17"}}
        self.assertEqual(stats.checksum_mismatches(self.SOURCE, target),
                         {"customer": ({"rows": 1, "sum": "-4"}, None)})


class ResultHashTest(unittest.TestCase):
    def test_column_and_row_order_do_not_matter(self):
        a = stats.result_hash(["b", "a"], [(1, "x"), (2, "y")])
        b = stats.result_hash(["a", "b"], [("y", 2), ("x", 1)])
        self.assertEqual(a, b)

    def test_negative_zero_and_nan_fold(self):
        self.assertEqual(stats.result_hash(["v"], [(-0.0,), (float("nan"),)]),
                         stats.result_hash(["v"], [(0.0,), (float("nan"),)]))

    def test_aware_timestamp_compares_as_naive_utc(self):
        utc = datetime.timezone.utc
        aware = datetime.datetime(2020, 1, 2, 3, 4, tzinfo=utc)
        naive = datetime.datetime(2020, 1, 2, 3, 4)
        self.assertEqual(stats.result_hash(["t"], [(aware,)]),
                         stats.result_hash(["t"], [(naive,)]))

    def test_different_values_differ(self):
        self.assertNotEqual(stats.result_hash(["v"], [(1,)]), stats.result_hash(["v"], [(2,)]))
        self.assertNotEqual(stats.result_hash(["v"], [(1.0,)]), stats.result_hash(["v"], [(1,)]))


if __name__ == "__main__":
    unittest.main()
