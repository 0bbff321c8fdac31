"""Metric arithmetic over the raw observations `perfbench.Main` writes."""

import statistics

TAIL_BEYOND = 10


def tail(samples):
    """(value, percentile, samples beyond): the highest percentile that has
    at least TAIL_BEYOND samples beyond it, i.e. the 11th largest sample,
    but never below the median (the upper one of an even count): with
    fewer than 2 * TAIL_BEYOND + 1 samples it reports the median, with
    fewer beyond."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return None, None, 0
    k = max(n - TAIL_BEYOND - 1, n // 2)
    return xs[k], 100.0 * (k + 1) / n, n - k - 1


def p50(samples):
    return statistics.median(samples) if samples else None


def self_times(root, spans):
    """Split the root span's interval among itself and its descendants.

    `root` is (key, t0, t1); `spans` are (key, t0, t1, depth, priority).
    Every instant of the root goes to the deepest span active at that
    instant (ties to the higher priority), so the returned self times,
    keyed by span key, sum exactly to the root's duration."""
    key0, a0, b0 = root
    clipped = [(k, max(t0, a0), min(t1, b0), d, p)
               for k, t0, t1, d, p in spans if min(t1, b0) > max(t0, a0)]
    cuts = sorted({a0, b0} | {t for s in clipped for t in s[1:3]})
    out = {key0: 0.0}
    for a, b in zip(cuts, cuts[1:]):
        best = (key0, -1, -1)
        for k, t0, t1, d, p in clipped:
            if t0 <= a and t1 >= b and (d, p) > best[1:]:
                best = (k, d, p)
        out[best[0]] = out.get(best[0], 0.0) + (b - a)
    return out


def op_of_group(group):
    """operation index of a Spark job group set by the benchmark, or None"""
    prefix = "perfbench-op-"
    if group and group.startswith(prefix) and group[len(prefix):].isdigit():
        return int(group[len(prefix):])
    return None


def jobs_by_op(jobs):
    """the traced run's jobs grouped by the operation that started them"""
    out = {}
    for j in jobs:
        i = op_of_group(j.get("group"))
        if i is not None:
            out.setdefault(i, []).append(j)
    return out


def union_ms(intervals):
    """total length of the union of (t0, t1) intervals"""
    total, end = 0.0, None
    for t0, t1 in sorted(intervals):
        if end is None or t0 > end:
            total += t1 - t0
            end = t1
        elif t1 > end:
            total += t1 - end
            end = t1
    return total


def storage_amp(storage):
    """bytes under the lake root (data, delete files, log, checkpoints)
    divided by the bytes of the live rows written once as plain Parquet"""
    lake = storage["data_bytes"] + storage["log_bytes"] + storage["checkpoint_bytes"]
    return lake / storage["plain_bytes"]
