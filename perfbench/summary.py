"""Summary arithmetic for the benchmark: percentiles that state their
sample support, and failure accounting. Pure Python, no Spark."""

from __future__ import annotations

# A percentile is reported only when at least this many samples lie
# beyond it; fewer would let one outlier decide the figure.
MIN_BEYOND = 10
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, pct: float) -> float:
    """Linearly interpolated percentile of ``values`` (pct in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = (len(xs) - 1) * pct / 100.0
    lo = int(rank)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)


def supported(n: int, pct: float, min_beyond: int = MIN_BEYOND) -> bool:
    """True when at least ``min_beyond`` of ``n`` samples lie above ``pct``."""
    return n * (100.0 - pct) / 100.0 >= min_beyond


def latency_summary(values, min_beyond: int = MIN_BEYOND) -> dict:
    """Median plus every ladder percentile the sample count supports.

    The median is always given; ``tail`` names the highest supported
    percentile, or is None when even the median lacks ``min_beyond``
    samples above it."""
    n = len(values)
    out = {"n": n, "p50": percentile(values, 50.0) if n else None, "tail": None}
    for pct in LADDER:
        if n and supported(n, pct, min_beyond):
            out[f"p{pct:g}"] = percentile(values, pct)
            out["tail"] = f"p{pct:g}"
    return out


def tally(ops) -> dict:
    """Failure accounting over operations (dicts with a boolean ``ok``).

    An operation is one key run or one micro-batch; it fails when it
    raised or when its output did not pass the check."""
    attempted = len(ops)
    failed = sum(1 for op in ops if not op["ok"])
    return {
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
    }
