"""Metric arithmetic for the benchmark: percentiles, interval unions,
driver gap, critical path, open-loop lateness and backlog, key order.

Pure functions over the raw record the harness JVM writes; run.py
assembles them into the end-to-end and per-layer metrics.
"""
import math
import random

# The percentiles a timing may be reported at, highest first.
PERCENTILES = (99, 95, 90, 50)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    k = max(0, min(len(s) - 1, math.ceil(p / 100.0 * len(s)) - 1))
    return s[k]


def weighted_percentile(pairs, p):
    """Nearest-rank percentile of (value, weight) pairs, each pair
    standing for `weight` equal samples."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("percentile of no samples")
    need = math.ceil(p / 100.0 * total)
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= max(need, 1):
            return v
    return pairs[-1][0]


def supports(n, p):
    """True when n samples leave at least ten beyond percentile p."""
    return n * (100 - p) / 100.0 >= 10


def highest_supported(n):
    """The highest reportable percentile for n samples, or None."""
    for p in PERCENTILES:
        if supports(n, p):
            return p
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo, hi):
    """Intervals cut to the window [lo, hi]; empty ones dropped."""
    out = []
    for s, e in intervals:
        s, e = max(s, lo), min(e, hi)
        if e > s:
            out.append((s, e))
    return out


def driver_gap(window, stage_spans):
    """Wall time of `window` during which no stage ran."""
    lo, hi = window
    return (hi - lo) - union_length(clip(stage_spans, lo, hi))


def critical_path(stages):
    """Sum over stages of the longest task: the executor time the
    window could not have avoided with unlimited slots."""
    return sum(s["max_task_ms"] for s in stages)


def slack(stages):
    """Sum over stages of stage span minus its longest task: time a
    stage was open but its slowest task was not running."""
    return sum(max(0.0, (s["complete"] - s["submit"]) - s["max_task_ms"])
               for s in stages)


def lateness(ticks):
    """How late each open-loop send ran behind its due time (ms)."""
    return [max(0.0, sent - due) for due, sent, _ in ticks]


def backlog_growing(samples, offered):
    """True when the open loop's queue only grew: at the end of the loop
    it still held more than 90% of the `offered` events. A loop of a few
    seconds cannot tell a slow, steady growth from the sawtooth of
    1-2 s micro-batches, so this guard catches stalls and gross
    overload only; the offered rate stays far below the drain rate."""
    return bool(samples) and samples[-1][1] > 0.9 * offered


def key_order(keys, seed):
    """The run order of `keys` for `seed`: a seeded shuffle of the
    sorted keys, independent of the order they were given in."""
    order = sorted(keys)
    random.Random(seed).shuffle(order)
    return order
