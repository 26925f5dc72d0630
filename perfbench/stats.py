"""Pure math for the benchmark: percentiles, interval unions, self time.

Times are plain numbers on one axis (the JVM writes nanoseconds since the
start of the run); intervals are (start, end) pairs with start <= end.
"""
import math

# Percentiles the tail is chosen from, lowest to highest.
TAIL_LADDER = (50.0, 75.0, 90.0, 99.0, 99.9, 99.99)
# A tail percentile needs at least this many samples above it.
TAIL_MIN_BEYOND = 10


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def rank(n, p):
    """Nearest-rank position (1-based) of percentile p among n samples."""
    # rounded first so that e.g. 99.9% of 10000 is rank 9990, not 9991
    return max(1, math.ceil(round(p * n / 100.0, 9)))


def percentile(xs, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[rank(len(s), p) - 1]


def tail_percentile(n):
    """Highest ladder percentile with at least TAIL_MIN_BEYOND of n
    samples ranked above it, or None when even the median has fewer."""
    best = None
    for p in TAIL_LADDER:
        if n - rank(n, p) >= TAIL_MIN_BEYOND:
            best = p
    return best


def tail(xs):
    """(percentile, value) of the tail of xs; (None, None) if too few."""
    p = tail_percentile(len(xs))
    return (p, percentile(xs, p)) if p is not None else (None, None)


def union(intervals):
    """Merge intervals into disjoint sorted ones (touching ones join)."""
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            if e > out[-1][1]:
                out[-1][1] = e
        else:
            out.append([s, e])
    return [tuple(iv) for iv in out]


def union_length(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    """The parts of intervals that fall inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def driver_gap(wall, busy):
    """Time within the wall interval not covered by any busy interval
    (Spark jobs, planning phases): the Spark driver's own work and waiting."""
    return self_time(wall, busy)
