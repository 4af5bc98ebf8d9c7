"""Summary statistics shared by run.py, layers.py and the self-tests.

Pure functions over plain lists and dicts; nothing here touches Spark.
"""
import statistics


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it, as (value, percentile, n).

    With n samples sorted ascending, the sample at 0-based rank n-1-beyond
    has exactly `beyond` samples after it; its percentile is the share of
    samples at or below it. Fewer than beyond+1 samples have no such
    percentile: the median stands in and the percentile reads 50."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= beyond:
        return median(xs), 50.0, n
    rank = n - 1 - beyond
    return xs[rank], 100.0 * (rank + 1) / n, n


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_time(span, children):
    """A span's duration minus the part of its interval its children
    cover. Children may overlap each other and may stick out of the
    parent; only the covered part inside the parent counts."""
    s, e = span["start"], span["end"]
    clipped = [(max(c["start"], s), min(c["end"], e)) for c in children]
    return (e - s) - union_length(clipped)


def descendants(spans, root_id):
    """Every span below root_id (children, grandchildren, ...)."""
    kids = {}
    for sp in spans:
        kids.setdefault(sp.get("parent"), []).append(sp)
    out, todo = [], [root_id]
    while todo:
        for sp in kids.get(todo.pop(), []):
            out.append(sp)
            todo.append(sp["id"])
    return out
