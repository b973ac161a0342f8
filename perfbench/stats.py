"""Statistics behind the benchmark's metrics.

Pure functions over plain lists, so they can be tested without Spark:
the percentile rule, due-time latency, the interval union behind
``spark.no_task_s`` and span self time.
"""

import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    ``q`` of the samples at or below it."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    return xs[max(1, math.ceil(q * len(xs))) - 1]


def tail(values, beyond=10):
    """The highest percentile that leaves at least ``beyond`` samples
    strictly above it: the (n - beyond)-th smallest value. Returns
    (value, percentile as a share)."""
    xs = sorted(values)
    if len(xs) <= beyond:
        raise ValueError("%d samples cannot leave %d beyond a tail" % (len(xs), beyond))
    rank = len(xs) - beyond
    return xs[rank - 1], rank / float(len(xs))


def median(values):
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2.0


def due_latency(due, done):
    """Latency of an operation timed from when it was due, not from when
    it was sent: a late send counts against the system (open loop)."""
    return done - due


def union(intervals):
    """Merge (start, end) intervals into disjoint sorted ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(intervals, lo=None, hi=None):
    """Length of the union of intervals, clipped to [lo, hi] if given."""
    total = 0.0
    for s, e in union(intervals):
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        total += max(0.0, e - s)
    return total


def uncovered(lo, hi, intervals):
    """Time in [lo, hi] that no interval covers (for tasks: time with no
    task running)."""
    return (hi - lo) - covered(intervals, lo, hi)


def self_times(spans):
    """Self time of each span: its duration minus the union of its
    children's intervals (clipped to the span).

    ``spans`` are dicts with ``id``, ``parent`` (0 for a root),
    ``start`` and ``end``. Returns {id: self time}.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def attach(roots, points):
    """Map each point in time to the root window that holds it, or None.

    ``roots`` are (id, start, end); windows are assumed disjoint, as in a
    traced run where one request or trigger runs at a time.
    """
    rs = sorted(roots, key=lambda r: r[1])
    out = []
    for t in points:
        hit = None
        for rid, s, e in rs:
            if s > t:
                break
            if t <= e:
                hit = rid
        out.append(hit)
    return out
