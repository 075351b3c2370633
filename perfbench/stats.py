"""Summary statistics used by every workload.

Timings are reported as a median plus the highest percentile the sample
supports: the highest of ``TAIL_PERCENTILES`` that still has at least
``MIN_BEYOND`` samples above it.
"""

from __future__ import annotations

import math
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_tail(n: int) -> float | None:
    """Highest percentile of ``TAIL_PERCENTILES`` with at least
    ``MIN_BEYOND`` of ``n`` samples beyond it, or None when even the
    median lacks that many."""
    for p in TAIL_PERCENTILES:
        # rounded: 100 - 99.9 is not exactly 0.1 in binary
        if round(n * (100.0 - p) / 100.0, 6) >= MIN_BEYOND:
            return p
    return None


def summarize(values: list[float]) -> dict:
    """Median, p90, the supported tail percentile and the sample count."""
    tail = supported_tail(len(values))
    return {
        "n": len(values),
        "p50": statistics.median(values),
        "p90": percentile(values, 90.0),
        "tail_p": tail,
        "tail": percentile(values, tail) if tail is not None else None,
    }
