"""Statistics of the benchmark: medians, tail percentiles, and the span and
job arithmetic behind the per-layer metrics. Pure functions, no I/O."""

import math
import statistics

TAIL_BEYOND = 10  # samples a tail percentile must have beyond it


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """The highest percentile with at least TAIL_BEYOND samples beyond it,
    never below the median.

    Returns (value, percentile, n). Sorted ascending, the k-th smallest
    sample (1-based) has n - k samples beyond it, so the rank is n - 10;
    with 21 samples or fewer that rank is not above the median rank
    ceil(n / 2), and the median is reported instead.
    """
    n = len(xs)
    if n == 0:
        return float("nan"), 0.0, 0
    s = sorted(xs)
    k = max(n - TAIL_BEYOND, math.ceil(n / 2))
    if k == math.ceil(n / 2):
        return median(s), 50.0, n
    return s[k - 1], 100.0 * k / n, n


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover. `spans` are dicts with id, parent, start,
    end; returns {id: self time}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def attribute(jobs, spans, slack=1.0):
    """Map each job id to the innermost span open when the job started
    (start within [span.start - slack, span.end]); unattributed jobs are
    left out. Innermost = latest-starting containing span."""
    ordered = sorted(spans, key=lambda s: s["start"])
    out = {}
    for j in jobs:
        best = None
        for s in ordered:
            if s["start"] - slack <= j["start"] <= s["end"]:
                best = s
            elif s["start"] - slack > j["start"]:
                break
        if best is not None:
            out[j["id"]] = best["id"]
    return out


def subtree(spans):
    """{span id: set of ids in its subtree, itself included}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    memo = {}

    def walk(i):
        if i not in memo:
            ids = {i}
            for c in kids.get(i, []):
                ids |= walk(c)
            memo[i] = ids
        return memo[i]

    return {s["id"]: walk(s["id"]) for s in spans}


def relative_iqr(xs):
    """Distance between the first and third quartile, as a share of the
    median (`statistics.quantiles(xs, n=4)`)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2
