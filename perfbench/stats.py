"""Statistics shared by `run.py` and its tests."""
import statistics

# a tail percentile needs at least this many samples beyond it
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values):
    """The highest percentile with at least TAIL_BEYOND samples above it.

    Returns (value, percentile, n). With n sorted samples the one at rank r
    (1-based) has n - r samples beyond it, so r = n - TAIL_BEYOND. With
    fewer than TAIL_BEYOND + 1 samples no percentile qualifies; the maximum
    is returned with percentile 100, and the caller reports n beside it.
    """
    s = sorted(values)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0, 0
    r = n - TAIL_BEYOND
    if r < 1:
        return s[-1], 100.0, n
    return s[r - 1], 100.0 * r / n, n


def union_length(intervals):
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = None
    start = None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if end is None or a > end:
            if end is not None:
                total += end - start
            start, end = a, b
        else:
            end = max(end, b)
    if end is not None:
        total += end - start
    return total


def dead_gap(window, jobs):
    """Wall time of `window` (start, end) not covered by any job's
    (start, end) interval, each clipped to the window."""
    lo, hi = window
    clipped = [(max(a, lo), min(b, hi)) for a, b in jobs]
    return (hi - lo) - union_length([(a, b) for a, b in clipped if b > a])


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover. `spans` are dicts with id, parent, start_ms, end_ms;
    returns {id: self_ms}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        covered = union_length([(max(k["start_ms"], a), min(k["end_ms"], b))
                                for k in kids.get(s["id"], [])])
        out[s["id"]] = (b - a) - covered
    return out

