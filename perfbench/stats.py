"""Pure arithmetic of the benchmark: percentiles, interval unions, span
self times. No I/O, so the self-tests can pin every rule on tiny inputs."""

import statistics

# Percentiles tried for a tail, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
# A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def percentile(values, p):
    """Linear-interpolated percentile (0..100) of a non-empty sequence."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n):
    """Highest percentile of TAIL_LADDER with at least TAIL_BEYOND of `n`
    samples beyond it, or None when `n` is too small for any."""
    for p in TAIL_LADDER:
        # in tenths of a percent, so 99.9 is exact
        if n * round(1000 - 10 * p) >= TAIL_BEYOND * 1000:
            return p
    return None


def timing_summary(values):
    """Median and tail of a timing sample, stating the tail's percentile
    and the sample count."""
    p = tail_percentile(len(values))
    return {
        "p50": statistics.median(values) if values else None,
        "tail": percentile(values, p) if p is not None else None,
        "tail_pct": p,
        "n": len(values),
    }


def merge(intervals):
    """Sorted, disjoint union of (start, end) intervals."""
    out = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def clip(intervals, lo, hi):
    """The parts of `intervals` inside [lo, hi]."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def covered(intervals, lo=None, hi=None):
    """Length of the union of `intervals`, optionally clipped to [lo, hi]."""
    xs = clip(intervals, lo, hi) if lo is not None else intervals
    return sum(b - a for a, b in merge(xs))


def driver_split(call_start, call_end, job_intervals):
    """(job_s, driver_s) of one call: the union of its Spark job intervals
    inside the call, and the rest of the call's wall time."""
    job = covered(job_intervals, call_start, call_end)
    return job, (call_end - call_start) - job


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}
