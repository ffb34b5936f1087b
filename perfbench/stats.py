"""Latency summaries that only claim what the sample supports."""

from __future__ import annotations

import statistics

# Candidate tail percentiles, highest last.
_TAILS = (80, 90, 95, 99)
# A percentile is reported only with at least this many samples beyond it.
MIN_BEYOND = 10


def supported_tail(n: int) -> int | None:
    """Highest tail percentile with >= MIN_BEYOND of ``n`` samples above
    it, or None. p80 needs 50 samples, p90 100."""
    best = None
    for p in _TAILS:
        if n * (100 - p) >= MIN_BEYOND * 100:
            best = p
    return best


def percentile(samples: list[float], p: float) -> float:
    """Linear-interpolated percentile (the 'inclusive' method)."""
    xs = sorted(samples)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(samples: list[float]) -> dict:
    """{'n', 'p50' and, when supported, 'p<tail>'}."""
    if not samples:
        raise ValueError("no samples")
    out = {"n": len(samples), "p50": statistics.median(samples)}
    tail = supported_tail(len(samples))
    if tail is not None:
        out[f"p{tail}"] = percentile(samples, tail)
    return out
