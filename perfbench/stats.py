"""Order statistics shared by the run and the diff tool."""
import math
import statistics


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile, as the gate computes them
    (`statistics.quantiles(values, n=4)`, exclusive method)."""
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else math.inf


def _rank(n, q):
    # rounding first absorbs float error: 0.55 * 100 is 55.00000000000001
    return max(1, math.ceil(round(q * n, 9)))


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of the samples at or below it."""
    ordered = sorted(values)
    return ordered[_rank(len(ordered), q) - 1]


def samples_beyond(n, q):
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - _rank(n, q)
