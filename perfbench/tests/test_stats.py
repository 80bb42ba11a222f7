"""Tests of the benchmark's statistics: python3 -m unittest discover -s perfbench/tests"""
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_exactly_ten_samples_beyond(self):
        values = list(range(1, 41))  # 40 samples
        v, pct = stats.tail(values)
        self.assertEqual(v, 30)
        self.assertEqual(sum(1 for x in values if x > v), 10)
        self.assertAlmostEqual(pct, 75.0)

    def test_order_does_not_matter(self):
        values = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10, 11, 12]
        self.assertEqual(stats.tail(values), stats.tail(sorted(values)))

    def test_smallest_sample_with_a_tail(self):
        v, pct = stats.tail(list(range(11)))
        self.assertEqual(v, 0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))

    def test_more_samples_raise_the_percentile(self):
        self.assertLess(stats.tail(list(range(20)))[1], stats.tail(list(range(100)))[1])


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8])
        self.assertEqual((q1, q2, q3), (2.25, 4.5, 6.75))

    def test_single_sample(self):
        self.assertEqual(stats.quartiles([3.0]), (3.0, 3.0, 3.0))


class Steal(unittest.TestCase):
    BEFORE = "cpu  100 5 50 1000 10 1 2 4 0 0"
    AFTER = "cpu  160 5 70 1100 10 1 2 24 7 0"

    def test_parse(self):
        t = stats.parse_cpu_line(self.BEFORE)
        self.assertEqual(t["user"], 100)
        self.assertEqual(t["steal"], 4)

    def test_fraction_of_elapsed_ticks(self):
        # elapsed: user 60 + system 20 + idle 100 + steal 20 = 200; guest is inside user
        self.assertAlmostEqual(stats.steal_frac(self.BEFORE, self.AFTER), 20 / 200)

    def test_old_kernel_without_steal_field(self):
        self.assertEqual(stats.steal_frac("cpu 1 2 3 4", "cpu 2 3 4 5"), 0.0)

    def test_no_elapsed_ticks(self):
        self.assertEqual(stats.steal_frac(self.BEFORE, self.BEFORE), 0.0)

    def test_rejects_per_cpu_line(self):
        with self.assertRaises(ValueError):
            stats.parse_cpu_line("cpu0 1 2 3 4")


class SelfTime(unittest.TestCase):
    def test_children_and_overlap(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 10_000_000_000},
            {"id": 1, "parent": 0, "start_ns": 1_000_000_000, "end_ns": 4_000_000_000},
            {"id": 2, "parent": 0, "start_ns": 3_000_000_000, "end_ns": 5_000_000_000},
            {"id": 3, "parent": 1, "start_ns": 1_000_000_000, "end_ns": 2_000_000_000},
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 6.0)
        self.assertAlmostEqual(st[1], 2.0)
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 1.0)


if __name__ == "__main__":
    unittest.main()
