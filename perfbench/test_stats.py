"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""
import unittest

import stats


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union([(0, 10), (2, 3), (10, 12)]), [(0, 12)])

    def test_unsorted_input_and_empty_intervals(self):
        self.assertEqual(stats.union_length([(5, 6), (1, 1), (0, 2)]), 3)
        self.assertEqual(stats.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        # op 0..10; two overlapping jobs cover 2..6, a plan phase 7..8
        self.assertEqual(stats.self_time((0, 10), [(2, 5), (4, 6), (7, 8)]), 5)

    def test_children_clipped_to_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_no_children(self):
        self.assertEqual(stats.self_time((3, 4.5), []), 1.5)


class PercentileTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        pct, value, n = stats.tail(xs)
        self.assertEqual((pct, value, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_tail_with_two_hundred_samples_is_p95(self):
        self.assertEqual(stats.tail(list(range(1, 201))), (95.0, 190, 200))

    def test_tail_of_few_samples_is_the_slowest(self):
        self.assertEqual(stats.tail([5, 1, 3]), (100.0, 5, 3))
        self.assertEqual(stats.tail(list(range(20)))[1:], (19, 20))
        self.assertEqual(stats.tail(list(range(21)))[1:], (10, 21))

    def test_tail_of_one_sample(self):
        self.assertEqual(stats.tail([2.5]), (100.0, 2.5, 1))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class FailRatioTest(unittest.TestCase):
    def test_wrong_answer_counts_as_failed(self):
        ops = [{"ok": True}, {"ok": False}, {"ok": True}, {"ok": True}]
        self.assertEqual(stats.fail_ratio(ops), 0.25)

    def test_error_counts_as_failed(self):
        self.assertEqual(stats.fail_ratio([{"ok": True, "error": "boom"}, {"ok": True}]), 0.5)

    def test_unchecked_op_counts_as_failed(self):
        self.assertEqual(stats.fail_ratio([{}]), 1.0)

    def test_all_correct(self):
        self.assertEqual(stats.fail_ratio([{"ok": True}] * 3), 0.0)


if __name__ == "__main__":
    unittest.main()
