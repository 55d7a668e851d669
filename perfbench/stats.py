"""Summary statistics used by the benchmark and its steadiness script."""
import math
import statistics


def median(values):
    return statistics.median(values)


def geomean(values):
    """Geometric mean of positive values."""
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    strictly above it: the value at sorted index n - beyond - 1. Returns
    (value, percentile) or None when there are too few samples."""
    n = len(values)
    if n <= beyond:
        return None
    i = n - beyond - 1
    return sorted(values)[i], 100.0 * (i + 1) / n


def quartiles(values):
    """First quartile, median, third quartile as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")
