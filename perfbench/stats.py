"""Summary statistics with the benchmark's reporting rules."""

from __future__ import annotations

import statistics

#: candidate tail percentiles, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.5, 99.9, 99.99)
#: a tail percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """Highest percentile of ``TAIL_LADDER`` with at least ``MIN_BEYOND``
    of ``n`` samples beyond it, or None when even the median lacks them."""
    best = None
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND - 1e-9:
            best = p
    return best


def summarize(values: list[float]) -> dict:
    """Median, supported tail percentile and sample count of ``values``."""
    out = {"n": len(values)}
    if not values:
        return out
    out["median"] = statistics.median(values)
    tail = tail_percentile(len(values))
    if tail is not None:
        out["tail_p"] = tail
        out["tail"] = percentile(values, tail)
    return out
