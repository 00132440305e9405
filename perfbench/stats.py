"""Summary statistics for latency samples.

A tail percentile is reported only when at least ``MIN_BEYOND``
samples lie beyond it; below that it would be set by one or two
unlucky requests, not by the system.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10
TAIL_PERCENTILES = (99, 95, 90, 75)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile of a non-empty sample."""
    xs = sorted(samples)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def beyond(n: int, p: float) -> int:
    """How many of ``n`` samples rank above the ``p``-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def summary(samples: list[float]) -> dict:
    """Sample count, median, and every tail percentile in
    ``TAIL_PERCENTILES`` that has ``MIN_BEYOND`` samples beyond it."""
    out: dict = {"n": len(samples)}
    if not samples:
        return out
    out["p50"] = statistics.median(samples)
    for p in TAIL_PERCENTILES:
        if beyond(len(samples), p) >= MIN_BEYOND:
            out[f"p{p}"] = percentile(samples, p)
    return out
