"""Metric maths of the benchmark: percentiles with the sample rule,
interval unions and self time."""
import math


def percentile(values, q):
    """Linear-interpolated percentile, `q` in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def beyond(n, q):
    """Samples strictly above the q-th percentile of n samples."""
    return n - 1 - math.floor(q * (n - 1))


def supported(n, q, min_beyond=10):
    """A percentile is reported only with at least ten samples beyond it."""
    return n > 0 and beyond(n, q) >= min_beyond


def tail(values, target, levels=(0.5, 0.75, 0.9, 0.95, 0.99)):
    """(level, value) of the highest percentile up to `target` that the
    sample count supports; (None, None) when not even the median is."""
    ok = [q for q in levels if q <= target and supported(len(values), q)]
    if not ok:
        return None, None
    return ok[-1], percentile(values, ok[-1])


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    """Intervals cut to the window [start, end]."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def self_time(duration, window, children):
    """A layer's busy time minus the part of its window that its child
    spans cover; for a plain span, `duration` is the window's length."""
    return duration - union_length(clip(children, *window))


def concurrency(intervals):
    """Summed busy time over the time anything was busy (1.0 = serial)."""
    wall = union_length(intervals)
    return sum(e - s for s, e in intervals) / wall if wall > 0 else 0.0

