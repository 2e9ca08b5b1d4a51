"""Statistics helpers shared by run.py and compare.py."""
import math
import statistics

INF = float("inf")


def percentile(values, p):
    """Nearest-rank percentile (p in 0..100). Failed operations enter as
    INF, so they count as missing every latency limit."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else INF


def interp(points, x):
    """Piecewise-linear value at x of sorted (x, y) points; flat outside."""
    if x <= points[0][0]:
        return points[0][1]
    for (x0, y0), (x1, y1) in zip(points, points[1:]):
        if x <= x1:
            return y0 + (y1 - y0) * (x - x0) / (x1 - x0) if x1 > x0 else y1
    return points[-1][1]


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> self time: its duration minus the part of its interval
    that its child spans cover. spans: [(id, parent, trace, name, start, end)]."""
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - union_length(children.get(s[0], []), s[4], s[5])
            for s in spans}
