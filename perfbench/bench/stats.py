"""Arithmetic of the benchmark: order statistics, pair scores, job gaps."""
import math
from collections import Counter


def median(values):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("median of no samples")
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2


def tail_percentile(values, min_beyond=10):
    """(p, value) for the highest of p90, p95, p99, p99.9 that leaves at
    least `min_beyond` samples above it, or None when even p90 does not
    (then only the median is reported). Nearest-rank."""
    xs = sorted(values)
    best = None
    for p in (90, 95, 99, 99.9):
        rank = math.ceil(p / 100 * len(xs))
        if len(xs) - rank >= min_beyond:
            best = (p, xs[rank - 1])
    return best


def _pairs(n):
    return n * (n - 1) // 2


def pair_scores(members):
    """(recall, precision) of intra-cluster pairs.

    `members` is an iterable of (cluster_id, truth_cluster) rows, one per
    item. A pair is predicted when both items share cluster_id and true when
    both share truth_cluster; counts are exact (no pair listing)."""
    members = list(members)
    predicted = sum(_pairs(n) for n in Counter(c for c, _ in members).values())
    truth = sum(_pairs(n) for n in Counter(t for _, t in members).values())
    both = sum(_pairs(n) for n in Counter(members).values())
    recall = both / truth if truth else 1.0
    precision = both / predicted if predicted else 1.0
    return recall, precision


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    total, cur_end = 0.0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


def job_gap(intervals, lo, hi):
    """Time in the window [lo, hi] during which no job was running."""
    return (hi - lo) - covered(intervals, lo, hi)


def components(ids, pairs):
    """id -> smallest id of its connected component under `pairs`."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in parent}
