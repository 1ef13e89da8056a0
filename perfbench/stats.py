"""Percentile helpers for the benchmark's timings."""
import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """The p-th percentile, interpolated linearly between closest ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supported_tail(values, min_beyond=MIN_BEYOND):
    """The highest percentile with at least ``min_beyond`` samples beyond it.

    Returns ``(p, value)``, or ``None`` when even the median lacks that
    many samples above it.
    """
    n = len(values)
    for p in TAIL_CANDIDATES:
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:
            return p, percentile(values, p)
    return None


def describe(values):
    """One report line: median, sample count and the supported tail."""
    tail = supported_tail(values)
    tail_s = f"p{tail[0]:g}={tail[1]:.4f}" if tail else f"no percentile with >={MIN_BEYOND} beyond"
    return f"p50={percentile(values, 50):.4f} n={len(values)} {tail_s}"
