"""Sample summaries: medians and the tail percentile the benchmark reports.

A tail is reported at the highest percentile of a fixed ladder that
still has at least ``MIN_BEYOND`` samples above it, so it is never read
off one or two outliers. The ladder is coarse on purpose: a run whose
sample count drifts (a faster program fits more queries into the same
window) keeps reporting the same percentile unless the count changes
tenfold.
"""

from __future__ import annotations

import math

MIN_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 90.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps 99.9% of 10,000 at rank 9,990 despite float error)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    return sorted(values)[_rank(len(values), p) - 1]


def beyond(n: int, p: float) -> int:
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least MIN_BEYOND samples beyond
    it, or None when n is too small for any."""
    for p in TAIL_LADDER:
        if beyond(n, p) >= MIN_BEYOND:
            return p
    return None


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def summarize(values: list[float]) -> dict:
    """{n, p50, tail_p, tail} for a latency sample, all nearest-rank (so
    a p50 tail equals the p50); tail fields are None when the sample is
    too small to have a tail."""
    out = {"n": len(values), "p50": percentile(values, 50.0) if values else None}
    p = tail_percentile(len(values))
    out["tail_p"] = p
    out["tail"] = percentile(values, p) if p is not None else None
    return out
