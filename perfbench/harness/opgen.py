"""Seeded operation sequences. The library only ever sees these generated
operations; the same (workload, seed) always gives the same sequence."""

import random

# operations generated per run; more than one run can use at the
# measured rates, so a run ends on its time limit, not on this list
COUNT = {"scan": 2000, "dml": 1000, "mv_cdc": 500}

# rows the dml and mv_cdc fact tables start with (keys 1..INITIAL_KEYS)
INITIAL_KEYS = {"scan": 0, "dml": 20000, "mv_cdc": 5000}


def _cycle(order, n, make):
    """`n` ops cycling through `order`, whose entries are a kind or a (kind,
    fixed parameters) pair. Kinds, their order and the parameters that set
    an op's cost are fixed, so every run executes the same work in the same
    sequence and runs of different seeds differ in the drawn parameters
    only (which keys, which dates). Reads are interleaved with writes."""
    out = []
    for j in range(n):
        entry = order[j % len(order)]
        kind, fixed = entry if isinstance(entry, tuple) else (entry, {})
        out.append(dict(make(kind), **fixed))
    return out


def _scan_op(rng, kind):
    if kind == "point":
        return {"t": kind, "k": rng.randrange(32)}
    if kind == "range":
        return {"t": kind, "d": rng.randrange(16), "w": rng.randrange(3)}
    if kind == "agg":
        return {"t": kind, "d": rng.randrange(6)}
    if kind == "join":
        return {"t": kind, "v": rng.randrange(3), "s": rng.randrange(5),
                "d": rng.randrange(2)}
    return {"t": "tt", "v": 1 + rng.randrange(2), "q": rng.randrange(2)}


# 6 point lookups, 5 ranges (width 7, 31 or 365 days: w), 2 aggregates,
# 4 joins (shape v) and 3 time-travel reads (version v, filter q)
SCAN_CYCLE = ("point", ("range", {"w": 0}), ("join", {"v": 0}), "point",
              ("tt", {"v": 1, "q": 0}), ("range", {"w": 1}), "agg", "point",
              ("join", {"v": 1}), ("range", {"w": 2}), "point", ("tt", {"v": 2, "q": 1}),
              ("join", {"v": 2}), ("range", {"w": 1}), "point", "agg",
              ("join", {"v": 0}), ("tt", {"v": 2, "q": 0}), "point", ("range", {"w": 0}))


def scan(rng, n):
    warm = [_scan_op(rng, k) for k in ("point", "range", "agg", "tt")]
    warm += [dict(_scan_op(rng, "join"), v=v) for v in range(3)]
    return warm, _cycle(SCAN_CYCLE, n, lambda k: _scan_op(rng, k))


class _Keys:
    def __init__(self, initial):
        self.next = initial + 1

    def fresh(self, n):
        k0 = self.next
        self.next += n
        return k0

    def pred(self, rng, width, m):
        """keys in a seeded window of `width` with key % m == r"""
        lo = 1 + rng.randrange(max(1, self.next - width))
        return {"lo": lo, "hi": lo + width, "m": m, "r": rng.randrange(m)}


def _dml_op(rng, keys, kind):
    if kind == "insert":
        n = 3 + rng.randrange(3)
        return {"t": kind, "k0": keys.fresh(n), "n": n}
    if kind == "append":
        n = 250 + rng.randrange(101)
        return {"t": kind, "k0": keys.fresh(n), "n": n}
    if kind == "delete":
        return dict(keys.pred(rng, 1000, 4), t=kind)
    if kind == "update":
        return dict(keys.pred(rng, 1000, 4), t=kind, v=1 + rng.randrange(999))
    if kind == "merge":
        n = 90 + rng.randrange(21)
        k0 = keys.next - n // 2
        keys.next = k0 + n
        return {"t": kind, "k0": k0, "n": n, "v": 1 + rng.randrange(10 ** 6)}
    if kind == "read_point":
        return {"t": kind, "k": 1 + rng.randrange(keys.next - 1)}
    if kind == "read_range":
        lo = 1 + rng.randrange(keys.next - 500)
        return {"t": kind, "lo": lo, "hi": lo + 200 + rng.randrange(101)}
    return {"t": kind}


# one cycle of 18: 4 inline inserts, 1 append, 1 delete, 1 update, 1 merge,
# 5 point and 2 range reads, a change-feed poll, a refresh of the
# materialized view (which reads it) and Lake.maintain(), so maintenance is
# counted by operations, never by a timer. The poll comes before
# maintenance: maintenance reaps replaced files at once, and a change-feed
# window that spans a reap cannot be read any more
DML_CYCLE = ("insert", "read_point", "delete", "read_point", "append", "changes",
             "refresh", "read_point", "maintain", "read_range", "update", "merge",
             "read_point", "insert", "read_range", "insert", "read_point", "insert")


def dml(rng, n):
    keys = _Keys(INITIAL_KEYS["dml"])
    warm = [_dml_op(rng, keys, k) for k in dict.fromkeys(DML_CYCLE)]
    return warm, _cycle(DML_CYCLE, n, lambda k: _dml_op(rng, keys, k))


def _mv_op(rng, keys, kind):
    if kind in ("insert", "append"):
        n = 5 + rng.randrange(11) if kind == "insert" else 100 + rng.randrange(101)
        return {"t": kind, "k0": keys.fresh(n), "n": n}
    if kind == "delete":
        return dict(keys.pred(rng, 400, 3), t=kind)
    if kind in ("update_status", "update_key"):
        return dict(keys.pred(rng, 400, 3), t=kind, v=rng.randrange(10 ** 6))
    return {"t": "update_dim", "m": 7, "r": rng.randrange(7), "v": rng.randrange(10 ** 6)}


MV_CYCLE = ("insert", "update_key", "delete", "append", "update_status", "insert",
            "update_dim", "delete", "insert", "update_key")


def mv_cdc(rng, n):
    keys = _Keys(INITIAL_KEYS["mv_cdc"])
    warm = [_mv_op(rng, keys, k) for k in dict.fromkeys(MV_CYCLE)]
    return warm, _cycle(MV_CYCLE, n, lambda k: _mv_op(rng, keys, k))


GENERATORS = {"scan": scan, "dml": dml, "mv_cdc": mv_cdc}
CYCLES = {"scan": SCAN_CYCLE, "dml": DML_CYCLE, "mv_cdc": MV_CYCLE}


def generate(workload, seed, n=None):
    """{"seed", "initial", "warmup", "cycle", "ops"}: the first `warmup` ops
    run once, on the first fixture, to warm the JVM; the rest are measured,
    in cycles of `cycle` ops."""
    rng = random.Random(f"{workload}:{seed}")
    warm, ops = GENERATORS[workload](rng, COUNT[workload] if n is None else n)
    return {"seed": seed, "initial": INITIAL_KEYS[workload], "warmup": len(warm),
            "cycle": len(CYCLES[workload]), "ops": warm + ops}
