"""Percentiles, the tail rule and span self time."""
import statistics

TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest percentile of TAIL_GRID with at least TAIL_BEYOND
    samples strictly above it. A run with fewer than 8 * TAIL_BEYOND
    samples asks for an eighth of them, and never fewer than two, so a
    short run's tail still rests on more than its single slowest sample.
    Returns (percentile, value, samples beyond it); p50 when no grid
    percentile qualifies (all samples equal).
    """
    need = min(TAIL_BEYOND, max(2, len(values) // 8))
    for p in TAIL_GRID:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= need or p == TAIL_GRID[-1]:
            return p, v, beyond


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to
    [lo, hi] when given. Overlaps count once."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def spread(values):
    """Interquartile distance over the median, with quartiles as
    statistics.quantiles(values, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf"), q1, q2, q3
