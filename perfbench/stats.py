"""Order statistics and span arithmetic used by the benchmark report."""
import math

# A percentile is only reported as a tail when at least this many samples
# lie beyond it; fewer would make it the max of a handful of samples.
MIN_BEYOND = 10


def median(values):
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    m = n // 2
    return s[m] if n % 2 else (s[m - 1] + s[m]) / 2


def percentile(values, p):
    """Nearest-rank p-th percentile (0 < p < 100) and the number of samples
    that lie beyond its rank."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p / 100 * n))
    return s[rank - 1], n - rank


def highest_tail(values, candidates=(99, 95, 90, 75, 50), min_beyond=MIN_BEYOND):
    """The highest candidate percentile with enough samples beyond it, as
    (p, value), or None when even the lowest has too few."""
    for p in candidates:
        value, beyond = percentile(values, p)
        if beyond >= min_beyond:
            return p, value
    return None


def covered(intervals):
    """Measure of the union of (start, end) intervals."""
    total = 0.0
    reach = None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total


def self_times(spans):
    """Self time of every span: its duration minus the part of it that its
    children cover. Spans are dicts with id, parent, start_ms and end_ms;
    the result maps id to milliseconds."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_ms"], s["end_ms"]
        inside = [(max(a, c["start_ms"]), min(b, c["end_ms"])) for c in children.get(s["id"], [])]
        out[s["id"]] = max(0.0, (b - a) - covered(inside))
    return out

