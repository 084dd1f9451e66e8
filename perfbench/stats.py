"""Summary statistics shared by the workloads."""

from __future__ import annotations

import math
import re
import statistics

# Percentiles the tail metric may report, lowest first.
TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10
METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples."""
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(values, p: float) -> float:
    """Nearest-rank percentile ``p`` (0-100] of ``values``."""
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n: int) -> float:
    """Highest of TAIL_PERCENTILES that leaves at least MIN_BEYOND of
    ``n`` samples beyond it; the median when ``n`` is too small for any."""
    best = TAIL_PERCENTILES[0]
    for p in TAIL_PERCENTILES:
        if n - _rank(p, n) >= MIN_BEYOND:
            best = p
    return best


def latency_summary(latencies) -> dict:
    n = len(latencies)
    p = tail_percentile(n)
    return {
        "n": n,
        "p50": percentile(latencies, 50.0),
        "tail": percentile(latencies, p),
        "tail_percentile": p,
        "beyond_tail": n - _rank(p, n),
    }


def spread(values) -> float:
    """Interquartile distance as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")
