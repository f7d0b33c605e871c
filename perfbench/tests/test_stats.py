"""The percentile helper applies the at-least-10-beyond tail rule."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def check(self, n):
        xs = list(range(n, 0, -1))  # any order
        v, p, count = stats.tail(xs)
        beyond = sum(1 for x in xs if x > v)
        return v, p, count, beyond

    def test_large_sample_takes_the_highest_percentile_with_ten_beyond(self):
        v, p, count, beyond = self.check(1000)
        self.assertEqual((v, p, count, beyond), (990, 99.0, 1000, 10))

    def test_hundred_samples_is_p90(self):
        v, p, _, beyond = self.check(100)
        self.assertEqual((v, p, beyond), (90, 90.0, 10))

    def test_every_size_keeps_at_least_ten_beyond_or_falls_back_to_median(self):
        for n in range(1, 300):
            v, p, _, beyond = self.check(n)
            if n >= 20:
                self.assertEqual(beyond, 10, n)
            else:
                self.assertEqual(v, sorted(range(1, n + 1))[-(-n // 2) - 1], n)

    def test_iqm_is_the_mean_of_the_middle_half(self):
        self.assertEqual(stats.iqm([8, 1, 7, 2, 6, 3, 5, 4]), 4.5)
        self.assertEqual(stats.iqm([1, 2, 3, 4, 5, 6, 7, 1000]), 4.5)
        self.assertEqual(stats.iqm([]), 0.0)

    def test_empty(self):
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))


if __name__ == "__main__":
    unittest.main()
