"""The benchmark's arithmetic: interval unions, self time, percentiles and
failure counting. Times are in any one unit; intervals are (start, end)."""


def union(intervals):
    """Merged, sorted, non-overlapping intervals covering the same points."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def union_length(intervals):
    """Length of the union of the intervals: overlaps count once."""
    return sum(e - s for s, e in union(intervals))


def covered(span, intervals):
    """How much of `span` the intervals cover, overlaps counted once."""
    lo, hi = span
    return union_length((max(s, lo), min(e, hi)) for s, e in intervals)


def self_time(span, children):
    """A span's duration minus the part of it that its child spans cover."""
    return (span[1] - span[0]) - covered(span, children)


def tail(samples, beyond=10):
    """The highest percentile that still has `beyond` samples above it; the
    slowest sample when there are no more than 2 * `beyond`.

    Returns (percentile in %, value, sample count)."""
    xs = sorted(samples)
    n = len(xs)
    k = beyond if n > 2 * beyond else 0
    return 100.0 * (n - k) / n, xs[n - k - 1], n


def median(samples):
    xs = sorted(samples)
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def failed(ops):
    """The ops that failed: an op fails when it raised, or when its output
    did not pass its check (`ok` is not True)."""
    return [o for o in ops if o.get("error") or not o.get("ok", False)]


def fail_ratio(ops):
    """Share of attempted ops that failed."""
    return len(failed(ops)) / len(ops) if ops else 1.0
