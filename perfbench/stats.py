"""Latency statistics shared by the runner and its tests."""

from __future__ import annotations

import math
import statistics

TAIL_BEYOND = 10  # samples that must lie beyond the tail percentile


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, never below the median: with n samples that is percentile
    ``floor(100 * (n - 10) / n)``, read by nearest rank (n=40 gives p75,
    the 30th smallest value, with 10 above it). Fewer than 20 samples give
    the median. Returns ``{"value", "percentile", "n"}``."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return {"value": statistics.median(xs), "percentile": 50, "n": n}
    pct = math.floor(100 * (n - TAIL_BEYOND) / n)
    rank = math.ceil(pct / 100 * n)  # nearest rank, 1-based
    return {"value": xs[rank - 1], "percentile": pct, "n": n}
