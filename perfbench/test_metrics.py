"""Self-tests for the benchmark's arithmetic.

    python3 perfbench/test_metrics.py
"""
import os
import random
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_like_numpy(self):
        xs = [1.0, 2.0, 3.0, 4.0]
        self.assertAlmostEqual(M.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(M.percentile(xs, 90), 3.7)
        self.assertAlmostEqual(M.percentile([5.0], 90), 5.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(M.tail_percentile(19))
        self.assertEqual(M.tail_percentile(20), 50.0)
        self.assertEqual(M.tail_percentile(39), 50.0)
        self.assertEqual(M.tail_percentile(40), 75.0)
        self.assertEqual(M.tail_percentile(99), 75.0)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(199), 90.0)
        self.assertEqual(M.tail_percentile(200), 95.0)
        self.assertEqual(M.tail_percentile(1000), 99.0)
        self.assertEqual(M.tail_percentile(10000), 99.9)


class Fingerprint(unittest.TestCase):
    cols = ["b", "a", "c"]
    rows = [(1, "x", 0.1 + 0.2), (2, "y", None), (2, "y", None),
            (3, "z", float("nan")), (4, "w", [1.5, 2.5])]

    def test_row_order_does_not_matter(self):
        want = M.fingerprint(self.cols, self.rows)
        rows = list(self.rows)
        for seed in range(5):
            random.Random(seed).shuffle(rows)
            self.assertEqual(M.fingerprint(self.cols, rows), want)

    def test_column_order_does_not_matter(self):
        perm = [2, 0, 1]
        cols = [self.cols[i] for i in perm]
        rows = [tuple(r[i] for i in perm) for r in self.rows]
        self.assertEqual(M.fingerprint(cols, rows),
                         M.fingerprint(self.cols, self.rows))

    def test_content_matters(self):
        want = M.fingerprint(self.cols, self.rows)
        self.assertNotEqual(M.fingerprint(self.cols, self.rows[:-1]), want)
        self.assertNotEqual(M.fingerprint(self.cols, self.rows[1:] + [
            (1, "x", 0.4)]), want)
        self.assertNotEqual(M.fingerprint(["b", "a", "d"], self.rows), want)
        # duplicates are counted, not collapsed
        self.assertNotEqual(M.fingerprint(self.cols, self.rows + [
            self.rows[0]]), want)

    def test_float_noise_below_nine_digits_is_ignored(self):
        a = M.fingerprint(["x"], [(0.1 + 0.2,)])
        self.assertEqual(a, M.fingerprint(["x"], [(0.3,)]))
        self.assertNotEqual(a, M.fingerprint(["x"], [(0.3000001,)]))


class Spans(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
            {"id": 3, "parent": 1, "start": 3.0, "end": 6.0},  # overlaps 2
            {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
            {"id": 5, "parent": 1, "start": 9.0, "end": 12.0},  # past end
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (5.0 + 1.0))
        self.assertAlmostEqual(st[2], 3.0 - 0.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertAlmostEqual(st[5], 3.0)

    def test_attach_picks_innermost_container(self):
        spans = [
            {"id": 1, "exec": 7, "start": 0.0, "end": 10.0},
            {"id": 2, "exec": 7, "start": 2.0, "end": 5.0},
        ]
        ev = M.attach(spans, [{"id": 3, "start": 3.0, "end": 4.0},
                              {"id": 4, "start": 6.0, "end": 7.0},
                              {"id": 5, "start": 11.0, "end": 12.0}])
        self.assertEqual([e["parent"] for e in ev], [2, 1, 0])
        self.assertEqual(ev[0]["exec"], 7)


class DriverGap(unittest.TestCase):
    def test_wall_minus_union_of_jobs(self):
        jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
        self.assertAlmostEqual(M.driver_gap(0.0, 10.0, jobs), 10.0 - 4.0)

    def test_jobs_clipped_to_the_pass(self):
        jobs = [(-5.0, 1.0), (9.0, 15.0), (20.0, 30.0)]
        self.assertAlmostEqual(M.driver_gap(0.0, 10.0, jobs), 8.0)

    def test_no_jobs_is_all_gap(self):
        self.assertAlmostEqual(M.driver_gap(2.0, 5.0, []), 3.0)

    def test_nested_and_identical_intervals(self):
        jobs = [(1.0, 9.0), (2.0, 3.0), (1.0, 9.0)]
        self.assertAlmostEqual(M.driver_gap(0.0, 10.0, jobs), 2.0)


if __name__ == "__main__":
    unittest.main()
