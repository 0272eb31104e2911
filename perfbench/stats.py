"""The benchmark's own arithmetic: medians, the tail percentile, the table
amplification ratios and span self time."""
import math


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it, as
    (percentile, value): the (n - beyond)-th smallest of n samples, which is
    percentile 100 * (n - beyond) / n. Below 4 * beyond samples that
    percentile is under p75, which is no tail, so the tail is then the
    maximum (percentile 100)."""
    s = sorted(xs)
    n = len(s)
    if n < 4 * beyond:
        return 100.0, s[-1]
    return 100.0 * (n - beyond) / n, s[n - beyond - 1]


def overhead_pct(traced, plain):
    """Tracing overhead in percent from (op name, latency) pairs of the
    traced and the untraced ops: the geometric mean over the op names both
    halves ran of the ratio of their mean latencies, minus one. Comparing
    like ops keeps a kind that only one half ran (a compaction) out of it."""
    def means(pairs):
        by = {}
        for name, ms in pairs:
            by.setdefault(name, []).append(ms)
        return {k: sum(v) / len(v) for k, v in by.items()}
    t, p = means(traced), means(plain)
    common = sorted(set(t) & set(p))
    if not common:
        raise ValueError("no op name ran both traced and untraced")
    log_ratio = sum(math.log(t[k] / p[k]) for k in common) / len(common)
    return (math.exp(log_ratio) - 1) * 100


def write_amp(bytes_written, user_bytes):
    """Bytes the table wrote per byte of user rows committed."""
    if user_bytes <= 0:
        raise ValueError("no user bytes committed")
    return bytes_written / user_bytes


def space_amp(bytes_on_disk, live_bytes):
    """Bytes on disk under the table per byte of the live version's data."""
    if live_bytes <= 0:
        raise ValueError("live version holds no data")
    return bytes_on_disk / live_bytes


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Self time per span: its duration minus the part of it covered by its
    children. A span's parent is the shortest other span of the same op
    that contains it; spans are dicts with op, start, end. Returns a list
    parallel to `spans`."""
    by_op = {}
    for i, s in enumerate(spans):
        by_op.setdefault(s["op"], []).append(i)
    parent = [None] * len(spans)
    for idx in by_op.values():
        for i in idx:
            a, b = spans[i]["start"], spans[i]["end"]
            best = None
            for j in idx:
                if j == i:
                    continue
                c, d = spans[j]["start"], spans[j]["end"]
                contains = c <= a and b <= d and (d - c > b - a or (d - c == b - a and j < i))
                if contains and (best is None or d - c < spans[best]["end"] - spans[best]["start"]):
                    best = j
            parent[i] = best
    children = {}
    for i, p in enumerate(parent):
        if p is not None:
            children.setdefault(p, []).append((spans[i]["start"], spans[i]["end"]))
    return [s["end"] - s["start"] - union_length(children.get(i, [])) for i, s in enumerate(spans)]
