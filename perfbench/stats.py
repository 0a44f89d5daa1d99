"""Summaries of timing samples.

A timing is reported as its median and the highest percentile that has
at least ``MIN_BEYOND`` samples beyond it, together with the sample
count; with fewer than ``2 * MIN_BEYOND`` samples no percentile above
the median qualifies and the tail is reported as absent.
"""

from __future__ import annotations

import math
import statistics

MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100) of ``values``."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_pct(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest whole percentile with at least ``min_beyond`` of ``n``
    samples strictly above it, or None when not even the median has."""
    if n < 2 * min_beyond:
        return None
    return math.floor(100.0 * (n - min_beyond) / n)


def summarize(values: list[float]) -> dict:
    """{'n', 'p50', 'tail_pct', 'tail'} for a list of timings."""
    n = len(values)
    out: dict = {"n": n, "p50": statistics.median(values) if n else None}
    p = tail_pct(n)
    out["tail_pct"] = p
    out["tail"] = percentile(values, p) if p is not None else None
    return out
