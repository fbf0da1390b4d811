"""Pure helpers that turn the harness's raw record into metrics."""
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=TAIL_BEYOND):
    """The highest percentile of `xs` with at least `beyond` samples above it.

    Returns (value, percentile, n), or None when there are too few samples
    to leave `beyond` of them above any sample.
    """
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
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
    """{span id: duration minus the union of its children's intervals}.

    Spans are dicts with id, parent, start_ns, end_ns. Children are
    clipped to their parent, so overlapping children count once.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ns"], s["end_ns"]
        covered = union_length(
            (max(c["start_ns"], a), min(c["end_ns"], b))
            for c in kids.get(s["id"], ()) if c["end_ns"] > a and c["start_ns"] < b)
        out[s["id"]] = (b - a) - covered
    return out


def spread(values):
    """Interquartile range over the median, as the benchmark contract reads it."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")
