"""Arithmetic of the benchmark's metrics: percentiles, the tail latency,
self time of spans and tracing overhead. Pure functions over plain data."""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


TAIL_PERCENTILE = 90.0


def percentile(values, pct):
    """The `pct` percentile, interpolated linearly between the order
    statistics at position pct/100 * (n - 1), as numpy's default and
    `statistics.quantiles(method="inclusive")` do."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = pct / 100.0 * (len(xs) - 1)
    k = int(pos)
    if k + 1 >= len(xs):
        return xs[-1]
    return xs[k] + (pos - k) * (xs[k + 1] - xs[k])


def tail(values, pct=TAIL_PERCENTILE):
    """Tail latency at a fixed percentile, so that two runs with different
    op counts compare the same percentile. Returns (value, percentile,
    samples beyond it); at 100 or more samples, 10 or more lie beyond p90."""
    value = percentile(values, pct)
    return value, pct, sum(x > value for x in values)


def union_length(intervals):
    """Total length covered by possibly overlapping [start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
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
    """Self time of each span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with id,
    parent, start_ns and end_ns; returns {id: self ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        kids = [(max(a, c["start_ns"]), min(b, c["end_ns"]))
                for c in children.get(s["id"], [])]
        out[s["id"]] = (b - a) - union_length([k for k in kids if k[1] > k[0]])
    return out


def tracing_overhead(traced_latencies, untraced_latencies):
    """Traced median op latency minus the untraced one."""
    return median(traced_latencies) - median(untraced_latencies)
