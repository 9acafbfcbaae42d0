"""Arithmetic over the JVM's span and job records.

Times are epoch microseconds. A span or job is any mapping with `t0` and
`t1`; intervals are half-open [t0, t1).
"""


def union_length(intervals):
    """Total length covered by the union of (t0, t1) intervals."""
    total, end = 0, None
    for t0, t1 in sorted((a, b) for a, b in intervals if b > a):
        if end is None or t0 >= end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def clipped(intervals, t0, t1):
    """The intervals cut to the window [t0, t1)."""
    return [(max(a, t0), min(b, t1)) for a, b in intervals if min(b, t1) > max(a, t0)]


def self_time(span, children):
    """A span's duration minus the time its child spans cover."""
    kids = clipped([(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])
    return (span["t1"] - span["t0"]) - union_length(kids)


def driver_gap(span, jobs):
    """A span's wall time minus the time during which at least one Spark
    job was running: planning, driver-side work and scheduling gaps."""
    busy = clipped([(j["t0"], j["t1"]) for j in jobs], span["t0"], span["t1"])
    return (span["t1"] - span["t0"]) - union_length(busy)


def within(span, records):
    """Records (jobs, plans) that started inside the span."""
    return [r for r in records if span["t0"] <= r["t0"] < span["t1"]]


def percentile(values, q):
    """Linear-interpolation percentile, q in [0, 1]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 0.5)


def tail_q(n, want=0.9, min_beyond=10):
    """The highest percentile at or below `want` that still has at least
    `min_beyond` samples beyond it, q = min(want, 1 - min_beyond / n), or
    None when n samples leave none."""
    if n <= min_beyond:
        return None
    return min(want, 1.0 - min_beyond / n)


def tail_percentile(values, want=0.9, min_beyond=10):
    """(q, value) for the tail percentile `tail_q` allows, or (None, None)."""
    q = tail_q(len(values), want, min_beyond)
    return (None, None) if q is None else (q, percentile(values, q))

