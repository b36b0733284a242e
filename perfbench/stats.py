"""Small numeric helpers shared by run.py, summarize.py and the self-tests."""


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return None
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest percentile that still has at least `beyond` samples
    above it: the sorted value with exactly `beyond` values after it.
    Returns (value, percentile), or None when that percentile would fall
    below the median (fewer than 2 * beyond samples)."""
    xs = sorted(xs)
    n = len(xs)
    if n < 2 * beyond:
        return None
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
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
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_time(span, children):
    """A span's duration minus the part of it its children cover; children
    that overlap each other (jobs run by parallel threads) count once."""
    s, e = span
    return (e - s) - union_length(clip(children, s, e))


def amp(numerator, denominator):
    return numerator / denominator if denominator else None
