"""Percentiles under the benchmark's sample-count rule, and run spread."""
import math
import statistics

# A percentile is reported only when at least this many samples lie beyond
# it (above it for p50/p90/p95): fewer makes the tail one or two samples.
MIN_BEYOND = 10


def samples_needed(p):
    """Smallest sample count with MIN_BEYOND samples above percentile p."""
    return math.ceil(MIN_BEYOND / (1.0 - p / 100.0) - 1e-9)


def percentile(values, p):
    """Nearest-rank percentile p (0 < p < 100) of values, with its sample
    count: returns (value, n), value None when fewer than
    samples_needed(p) samples exist."""
    n = len(values)
    if n < samples_needed(p):
        return None, n
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * n))
    return ordered[rank - 1], n


def spread(values):
    """Interquartile range as a share of the median, as the acceptance
    check computes it."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
