"""Statistics the benchmark reports: medians, quartiles, the tail
percentile, and the union of time intervals."""
import statistics


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(q1, q2, q3) as `statistics.quantiles(xs, n=4)` gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs):
    """The highest percentile that still has at least ten samples beyond
    it: with n samples sorted ascending, the value at rank n - 10, which
    is percentile 100 * (n - 10) / n. Returns (value, percentile,
    samples_beyond). With ten samples or fewer no such percentile
    exists; the maximum is returned with percentile 100 and the count of
    samples beyond it (zero) says so."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    if n <= 10:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the (start, end) intervals, each first
    clipped to [lo, hi] when those are given. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else float("inf")
