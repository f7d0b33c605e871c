"""Reductions run.py applies to the harness's raw samples."""

import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def iqm(xs):
    """Interquartile mean: the mean of the middle half of the samples. A
    robust centre that, unlike the median, does not jump across the gaps
    of a multi-modal latency mix."""
    if not xs:
        return 0.0
    s = sorted(xs)
    n = len(s)
    lo, hi = n // 4, n - n // 4
    return sum(s[lo:hi]) / (hi - lo)


def tail(xs, beyond=TAIL_BEYOND):
    """The highest nearest-rank percentile with at least ``beyond`` samples
    above it: the (n - beyond)-th smallest sample, never below the median.
    Returns (value, percentile, sample count)."""
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    s = sorted(xs)
    k = max(n - beyond, math.ceil(n / 2), 1)
    return s[k - 1], 100.0 * k / n, n
