"""Summary statistics for the benchmark: guarded percentiles, span
self-time arithmetic and failure accounting. Pure functions, so the
unit tests in `tests/` can pin them."""
import math
import statistics

MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank `q`-quantile (0 < q < 1) of `values`, or None when
    fewer than MIN_BEYOND samples lie above it: a tail figure resting on
    a handful of samples is one slow execution, not a percentile. The
    median is reported from any sample count (`median`)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        return None
    return xs[rank - 1]


def tail(values):
    """(q, value): the highest nearest-rank quantile above the median
    that still has MIN_BEYOND samples above it, or None."""
    xs = sorted(values)
    rank = len(xs) - MIN_BEYOND
    if rank < 1 or rank / len(xs) <= 0.5:
        return None
    return rank / len(xs), xs[rank - 1]


def median(values):
    return statistics.median(values) if values else None


def latency_samples(ops):
    """Times of the successful ops only. A failed op is counted by
    `fail_ratio` and never contributes a (fast) time."""
    return [o["seconds"] for o in ops if o["ok"]]


def fail_ratio(ops):
    return sum(1 for o in ops if not o["ok"]) / len(ops) if ops else 0.0


def union_length(intervals, lo=None, hi=None):
    """Total length covered by `intervals` ((start, end) pairs),
    clipped to [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
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


# a span's parent is the nearest enclosing span of a lower rank
RANK = {"op": 0, "build": 1, "execute": 1, "verify": 1}


def self_times(spans):
    """Self time of every span: its duration minus the union of its
    children's intervals (clipped to it). Children are the spans of the
    same op, one rank down, whose midpoint falls inside it; Catalyst
    phases and jobs (rank 2) nest in build or execute, those in op.
    Returns a list of (span, self_time) pairs."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    out = []
    for group in by_op.values():
        children = {id(s): [] for s in group}
        for c in group:
            rc = RANK.get(c["name"], 2)
            mid = (c["start_us"] + c["end_us"]) / 2
            parents = [p for p in group if RANK.get(p["name"], 2) < rc
                       and p["start_us"] <= mid <= p["end_us"]]
            if parents:
                p = max(parents, key=lambda x: RANK.get(x["name"], 2))
                children[id(p)].append((c["start_us"], c["end_us"]))
        for s in group:
            inner = union_length(children[id(s)], s["start_us"], s["end_us"])
            out.append((s, (s["end_us"] - s["start_us"]) - inner))
    return out


def driver_gap_us(op_span, job_intervals):
    """Wall time of an op not covered by any of its Spark jobs."""
    s, e = op_span
    return (e - s) - union_length(job_intervals, s, e)
