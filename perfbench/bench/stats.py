"""Harness arithmetic: medians, geometric means, quartile spreads and
interval algebra over spans (union, idle gaps, self time)."""
import math
import statistics


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    """Geometric mean of positive numbers."""
    xs = list(xs)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as `statistics.quantiles(n=4)`."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs), each
    clipped to [lo, hi] when given."""
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


def uncovered(span, children):
    """Time inside `span` covered by none of `children`: the idle gaps
    between an operation's jobs, or a span's self time."""
    s, e = span
    return (e - s) - union_length(children, s, e)
