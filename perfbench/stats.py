"""Summary statistics shared by the benchmark runner and its tests."""
import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: (percentile, value, n), or None when there are too few samples.

    With n sorted samples the value at 1-based rank n - beyond has exactly
    `beyond` samples after it; its percentile is floor(100 * rank / n)."""
    n = len(samples)
    rank = n - beyond
    if rank < 1:
        return None
    s = sorted(samples)
    return math.floor(100 * rank / n), s[rank - 1], n


def describe(samples, beyond=10):
    """'median X (n=N)' plus the tail percentile when there is one."""
    if not samples:
        return "no samples"
    text = f"median {median(samples):.4g} (n={len(samples)})"
    tail = tail_percentile(samples, beyond)
    if tail is None:
        return text + f"; no percentile has {beyond} samples beyond it"
    p, v, _ = tail
    return text + f"; p{p} {v:.4g}"


def quartile_spread(values):
    """Distance between the first and third quartile as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
