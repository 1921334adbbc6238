"""Order statistics for the benchmark's timings.

A percentile is only reported when at least ten samples lie beyond it
(so p50 needs 20 samples, p90 needs 100); the sample count travels with it.
"""
import math
import statistics

PERCENTILES = (50, 90, 95, 99, 99.9)
MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least q % of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[k - 1]


def beyond(n, q):
    """How many of n samples lie strictly beyond the q-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def reportable(n, q):
    return n > 0 and beyond(n, q) >= MIN_BEYOND


def summary(values):
    """Sample count, median and every reportable percentile of a timing."""
    out = {"n": len(values), "median": statistics.median(values) if values else None}
    for q in PERCENTILES:
        if reportable(len(values), q):
            out[f"p{q:g}"] = percentile(values, q)
    return out


def quartile_spread(values):
    """(q3 - q1) / median, with the quartiles as statistics.quantiles(n=4)
    gives them: the run-to-run spread the benchmark's bounds are held to."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
