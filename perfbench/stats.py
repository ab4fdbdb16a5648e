"""Arithmetic shared by the benchmark's runner and its compare tool."""
import math

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0)
TAIL_BEYOND = 10


def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def median(xs):
    return percentile(xs, 50.0)


def tail(xs):
    """(value, percentile, samples): the highest ladder percentile that has
    at least TAIL_BEYOND samples beyond it, and p90 when there are too few
    samples for that (the sample count says how thin that tail is)."""
    n = len(xs)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND:
            return percentile(xs, p), p, n
    return percentile(xs, TAIL_LADDER[-1]), TAIL_LADDER[-1], n


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(xs, n=4) gives them."""
    import statistics
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def overhead(ops, round_size):
    """Tracing overhead from a traced run's ops ({"i", "lat_s", "traced"}):
    per op kind (i % round_size), the median traced latency over the median
    untraced one; the median of those ratios, minus one."""
    ratios = []
    for kind in range(round_size):
        on = [o["lat_s"] for o in ops if o["i"] % round_size == kind and o["traced"]]
        off = [o["lat_s"] for o in ops if o["i"] % round_size == kind and not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    return median(ratios) - 1.0 if ratios else 0.0


def self_times(spans):
    """Per span name: {"calls", "total_s", "self_s"}, where a span's self
    time is its duration minus the durations of its direct children."""
    dur = {s["id"]: s["end_s"] - s["start_s"] for s in spans}
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    out = {}
    for s in spans:
        o = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        o["calls"] += 1
        o["total_s"] += dur[s["id"]]
        o["self_s"] += dur[s["id"]] - child.get(s["id"], 0.0)
    return out
