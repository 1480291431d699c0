"""Statistics the benchmark reports: medians, the tail-percentile rule,
and the self time of trace spans."""
import math
import statistics

# Percentiles the tail rule may pick, highest first.
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, p):
    """Nearest-rank percentile of a non-empty sample."""
    s = sorted(xs)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(xs):
    """The highest percentile in TAIL_LADDER that has at least ten samples
    strictly beyond it. Returns (percentile, value, samples beyond), or
    None when even the median has fewer than ten samples beyond it."""
    for p in TAIL_LADDER:
        v = percentile(xs, p)
        beyond = sum(1 for x in xs if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return p, v, beyond
    return None


def union_length(intervals, lo, hi):
    """Length of the union of intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
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
    """Self time of every span: its duration minus the part of its
    interval that its child spans cover. `spans` are dicts with `id`,
    `parent`, `start` and `end`; returns {id: self time}."""
    children = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}

