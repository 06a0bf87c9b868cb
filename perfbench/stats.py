"""Percentiles and the tail-percentile rule used by every latency report."""

from __future__ import annotations

import math

# Candidate tail percentiles, highest first.
LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def beyond(n: int, p: float) -> float:
    """Samples that lie beyond percentile ``p`` of ``n`` samples."""
    return n * (100.0 - p) / 100.0


def tail_percentile(values, min_beyond: int = 10, ladder=LADDER):
    """Highest ladder percentile with at least ``min_beyond`` samples
    beyond it. Returns ``(p, value, n)``; ``p`` and ``value`` are None
    when not even the median qualifies."""
    n = len(values)
    for p in ladder:
        if beyond(n, p) >= min_beyond:
            return p, percentile(values, p), n
    return None, None, n


def latency_summary(values_s) -> dict:
    """p50/p95 in ms plus the qualified tail, for human-readable reports."""
    n = len(values_s)
    if not n:
        return {"n": 0}
    ms = [v * 1000.0 for v in values_s]
    p, v, _ = tail_percentile(ms)
    return {
        "n": n,
        "p50_ms": percentile(ms, 50),
        "p95_ms": percentile(ms, 95),
        "p95_qualifies": beyond(n, 95) >= 10,
        "tail_p": p,
        "tail_ms": v,
    }


def median(values) -> float:
    return percentile(values, 50)
