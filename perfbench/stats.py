"""Summary statistics for latency samples.

A timing is reported as its median plus the highest of p90/p99/p999
that leaves at least ``MIN_TAIL`` samples beyond it, with the sample
count, so a tail figure is never read off a handful of samples.
"""

from __future__ import annotations

import math
import statistics

MIN_TAIL = 10
_TAILS = ((0.999, "p999"), (0.99, "p99"), (0.9, "p90"))


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, ``0 < q <= 1``."""
    if not values:
        raise ValueError("no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_label(n: int) -> tuple[float, str] | None:
    """The highest tail percentile ``n`` samples support, or None: a
    percentile q qualifies when at least ``MIN_TAIL`` samples lie beyond
    it, i.e. ``n * (1 - q) >= MIN_TAIL``."""
    for q, label in _TAILS:
        if n * (1 - q) >= MIN_TAIL - 1e-9:
            return q, label
    return None


def summarize(values: list[float]) -> dict:
    out = {"n": len(values), "p50": statistics.median(values)}
    tail = tail_label(len(values))
    if tail:
        out[tail[1]] = percentile(values, tail[0])
    return out
