"""Percentiles and the tail rule the benchmark reports timings with."""

from __future__ import annotations

import math

# candidate tail percentiles, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int, min_beyond: int = MIN_BEYOND) -> float | None:
    """Highest ladder percentile with at least `min_beyond` of `n` samples
    above it, or None when even the lowest rung has fewer."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= min_beyond - 1e-9:  # 99.9 is inexact
            return p
    return None


def summarize(values) -> dict:
    """Median, the tail percentile the sample count supports, and n."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50.0) if n else None,
           "tail_p": None, "tail": None}
    p = tail_percentile(n)
    if p is not None:
        out["tail_p"] = p
        out["tail"] = percentile(values, p)
    return out


def median(values) -> float:
    return percentile(values, 50.0)
