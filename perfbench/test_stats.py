"""Unit tests for the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def span(t0, t1):
    return {"t0": t0, "t1": t1}


class UnionLength(unittest.TestCase):
    def test_disjoint_overlapping_nested_and_touching(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(stats.union_length([(0, 30), (5, 10), (12, 20)]), 30)
        self.assertEqual(stats.union_length([(10, 20), (0, 10)]), 20)
        self.assertEqual(stats.union_length([(5, 5), (7, 3)]), 0)


class SelfTime(unittest.TestCase):
    def test_no_children_is_the_duration(self):
        self.assertEqual(stats.self_time(span(100, 250), []), 150)

    def test_sequential_children_are_subtracted(self):
        kids = [span(110, 140), span(150, 200)]
        self.assertEqual(stats.self_time(span(100, 250), kids), 150 - 30 - 50)

    def test_overlapping_children_count_once(self):
        kids = [span(110, 160), span(140, 200)]
        self.assertEqual(stats.self_time(span(100, 250), kids), 150 - 90)

    def test_children_are_clipped_to_the_parent(self):
        kids = [span(50, 120), span(240, 400)]
        self.assertEqual(stats.self_time(span(100, 250), kids), 150 - 20 - 10)


class DriverGap(unittest.TestCase):
    def test_gap_is_wall_minus_time_with_a_job_running(self):
        jobs = [span(110, 130), span(125, 160), span(200, 210)]
        # busy: [110, 160) and [200, 210) = 60 of 150
        self.assertEqual(stats.driver_gap(span(100, 250), jobs), 90)

    def test_no_jobs_means_all_gap(self):
        self.assertEqual(stats.driver_gap(span(0, 40), []), 40)

    def test_jobs_outside_or_straddling_the_span(self):
        jobs = [span(0, 50), span(90, 120), span(300, 400)]
        # only [100, 120) of the span is busy
        self.assertEqual(stats.driver_gap(span(100, 250), jobs), 130)

    def test_within_assigns_records_by_start(self):
        recs = [span(99, 101), span(100, 400), span(249, 260), span(250, 251)]
        self.assertEqual(stats.within(span(100, 250), recs), recs[1:3])


class TailPercentile(unittest.TestCase):
    def test_rule_keeps_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_q(0))
        self.assertIsNone(stats.tail_q(10))
        self.assertAlmostEqual(stats.tail_q(14), 1 - 10 / 14)
        self.assertAlmostEqual(stats.tail_q(20), 0.5)
        self.assertAlmostEqual(stats.tail_q(40), 0.75)
        self.assertAlmostEqual(stats.tail_q(100), 0.9)
        self.assertAlmostEqual(stats.tail_q(1000), 0.9)
        for n in (11, 20, 37, 99, 100, 500):
            q = stats.tail_q(n)
            self.assertGreaterEqual((1 - q) * n, 10 - 1e-9)

    def test_value_interpolates(self):
        xs = list(range(1, 41))  # 40 samples -> p75
        q, v = stats.tail_percentile(xs)
        self.assertAlmostEqual(q, 0.75)
        self.assertAlmostEqual(v, stats.percentile(xs, 0.75))
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 0.5), 2.5)
        self.assertEqual(stats.tail_percentile([1.0] * 7), (None, None))


if __name__ == "__main__":
    unittest.main()
