"""End-to-end and per-layer metrics, the per-op-type time breakdown and
the counter ledger, derived from one run's raw observations."""

from . import opgen, stats

WRITE_LAYER = "LakeWrite"
READ_LAYER = "LakeTable"

# metric name -> unit; the end-to-end metrics a run reports with tracing
# off. Latencies are in multiples (x) of the probe: a fixed Spark RDD job,
# which no lake code or session extension reaches, timed between
# operations in the same run.
# On a shared machine whose speed drifts by tens of percent within minutes,
# the ratio keeps what the lake costs and drops what the machine did.
END_TO_END = {
    "setup_s": "s", "op_cost_x": "x", "read_p50_x": "x", "storage_amp": "ratio",
    "retained_heap_mb": "MB",
}
# reported beside them (printed, not in the result line): the same
# latencies in ms, and metrics that apply to some workloads only, are zero
# on a correct run, or rest on too few samples of a mix of very different
# operations to hold still from run to run
EXTRA = {
    "ops_per_s": "op/s", "read_p50_ms": "ms", "read_tail_ms": "ms", "read_tail_x": "x",
    "probe_ms": "ms",
    "op_p50_ms": "ms", "op_tail_ms": "ms", "write_p50_ms": "ms", "write_tail_ms": "ms",
    "changes_p50_ms": "ms", "refresh_p50_ms": "ms", "refresh_tail_ms": "ms",
    "maintain_p50_ms": "ms", "fail_frac": "ratio",
}
PER_LAYER = {
    "MetadataStore.state_ms": "ms", "MetadataStore.log_files": "count",
    "MetadataStore.log_bytes": "bytes", "MetadataStore.snapshots_per_op": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.actions_per_op": "count",
    "exec.jobs_per_op": "count", "exec.stages_per_op": "count",
    "exec.tasks_per_op": "count", "exec.busy_ms": "ms", "exec.driver_ms": "ms",
    "exec.bytes_read_per_op": "bytes", "exec.rows_read_per_row_out": "ratio",
    "exec.shuffle_bytes_per_op": "bytes", "exec.spill_bytes": "bytes",
    "exec.gc_ms_per_op": "ms",
    "LakeTable.native_tier_frac": "ratio", "LakeTable.files_live": "count",
    "LakeTable.files_read": "count", "LakeTable.files_pruned_frac": "ratio",
    "LakeTable.delete_files_live": "count",
    "LakeWrite.files_added_per_op": "count",
    "LakeWrite.delete_files_added_per_op": "count",
    "LakeWrite.bytes_written_per_op": "bytes", "LakeWrite.write_amp": "ratio",
    "LakeOps.changes_ms": "ms", "LakeOps.change_rows": "count",
    "LakeOps.rows_read_per_change_row": "ratio", "LakeOps.maintain_ms": "ms",
    "LakeOps.maintain_bytes_rewritten": "bytes",
    "LakeMaterializedView.refresh_jobs": "count",
    "LakeMaterializedView.refresh_shuffle_bytes": "bytes",
    "LakeMaterializedView.refresh_driver_ms": "ms",
    "LakeMaterializedView.rows_read_per_change_row": "ratio",
}

LEDGER_COUNTERS = (
    "ops", "actions", "jobs", "stages", "tasks", "snapshots", "files_added",
    "delete_files_added", "bytes_added", "scans", "native_scans", "files_live",
    "files_read", "delete_files_live", "in_rows", "in_bytes", "out_rows",
    "out_bytes", "shuffle_bytes", "rows_out", "rows_changed")


def _div(a, b):
    return a / b if b else 0.0


def measured(raw):
    """the operations of the measured loop (warm-up ops run before it)"""
    return [o for o in raw["ops"] if o["i"] >= raw["warmup"]]


def cycle_ops_per_s(raw, ops):
    """Throughput of one whole cycle of the workload's mix: the cycle's op
    count over the sum, slot by slot, of the median latency of the slot's
    kind in this run. A run that stops part-way through a cycle would
    otherwise weigh each kind by where the time limit fell. Every run
    completes its first cycle, so every kind is timed."""
    lat = {}
    for o in ops:
        lat.setdefault(o["kind"], []).append(o["t1"] - o["t0"])
    kinds = [e[0] if isinstance(e, tuple) else e for e in opgen.CYCLES[raw["workload"]]]
    return _div(len(kinds), sum(stats.p50(lat[k]) for k in kinds) / 1000.0)


class Run:
    """One run's observations, restricted to its measured operations."""

    def __init__(self, raw):
        self.raw = raw
        self.ops = measured(raw)
        self.ids = {o["i"] for o in self.ops}
        self.spans = [s for s in raw["spans"] if s["op"] in self.ids]
        self.jobs = {i: js for i, js in stats.jobs_by_op(raw["jobs"]).items()
                     if i in self.ids}
        self.actions = {}
        for a in raw["actions"]:
            if a["op"] in self.ids:
                self.actions.setdefault(a["op"], []).append(a)
        self.commits = {c["op"]: c for c in raw["commits"] if c["op"] in self.ids}

    def span_ms(self, layer, name=None):
        return [s["t1"] - s["t0"] for s in self.spans
                if s["layer"] == layer and (name is None or s["name"] == name)]

    def jobs_in(self, span):
        return [j for j in self.jobs.get(span["op"], [])
                if span["t0"] - 1 <= j["t0"] <= span["t1"] + 1]


def end_to_end(raw):
    """(metrics, extra metrics, notes on each tail percentile)"""
    r = Run(raw)
    m, tails = {}, {}
    m["setup_s"] = stats.p50(raw["setup_s"])
    m["ops_per_s"] = cycle_ops_per_s(raw, r.ops)
    samples = {"op": [o["t1"] - o["t0"] for o in r.ops], "read": r.span_ms(READ_LAYER),
               "write": r.span_ms(WRITE_LAYER),
               "changes": r.span_ms("LakeOps", "tableChanges"),
               "refresh": r.span_ms("LakeMaterializedView"),
               "maintain": r.span_ms("LakeOps", "maintain")}
    for name, xs in samples.items():
        if not xs:
            continue
        m[name + "_p50_ms"] = stats.p50(xs)
        if name in ("op", "read", "write", "refresh"):
            v, pct, beyond = stats.tail(xs)
            m[name + "_tail_ms"] = v
            tails[name + "_tail_ms"] = {"samples": len(xs), "percentile": pct, "beyond": beyond}
    probe = stats.p50(raw["probe_ms"])
    m["probe_ms"] = probe
    m["op_cost_x"] = _div(1000.0 / m["ops_per_s"], probe)
    m["read_p50_x"] = _div(m.get("read_p50_ms", 0.0), probe)
    m["read_tail_x"] = _div(m.get("read_tail_ms", 0.0), probe)
    # read at the end of the first measured cycle (see storage_series)
    m["storage_amp"] = stats.storage_amp(raw["storage"][0])
    m["retained_heap_mb"] = raw["heap_mb"][0]
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + len(raw["failures"])
    m["fail_frac"] = _div(failed, len(raw["ops"]) + len(raw["failures"]))
    return ({k: m[k] for k in END_TO_END},
            {k: m[k] for k in EXTRA if k in m}, tails)


def storage_series(raw):
    """[(storage_amp, retained heap MB)] at the end of each completed cycle"""
    return [(stats.storage_amp(st), mb) for st, mb in zip(raw["storage"], raw["heap_mb"])]


def _op_counters(r, o):
    i = o["i"]
    c = dict.fromkeys(LEDGER_COUNTERS, 0)
    c["ops"] = 1
    c["rows_out"] = o["rows_out"]
    c["rows_changed"] = o["rows_changed"]
    for j in r.jobs.get(i, []):
        c["jobs"] += 1
        for k in ("stages", "tasks", "in_rows", "in_bytes", "out_rows", "out_bytes"):
            c[k] += j[k]
        c["shuffle_bytes"] += j["shuffle_write"]
    for a in r.actions.get(i, []):
        c["actions"] += 1
        for s in a["scans"]:
            c["scans"] += 1
            # a composed scan's plan names neither its table nor its files
            if s["native"]:
                c["native_scans"] += 1
                c["files_live"] += s["files_live"]
                c["files_read"] += s["files_read"]
                c["delete_files_live"] += s["delete_files_live"]
    cm = r.commits.get(i)
    if cm:
        for k in ("snapshots", "files_added", "delete_files_added", "bytes_added"):
            c[k] = cm[k]
    return c


def by_kind(raw, limit=None):
    """counter sums per op kind over the measured ops (the first `limit`)"""
    r = Run(raw)
    ops = sorted(r.ops, key=lambda o: o["i"])
    if limit is not None:
        ops = ops[:limit]
    out = {}
    for o in ops:
        acc = out.setdefault(o["kind"], dict.fromkeys(LEDGER_COUNTERS, 0))
        for k, v in _op_counters(r, o).items():
            acc[k] += v
    return out


def breakdown(raw):
    """per op kind: mean wall ms and mean self ms per layer. The layers of
    an op are the client's calls into them (depth 1), Catalyst phases and
    Spark jobs (depth 2, a job wins where both run); `client` is the op's
    own residual, so the parts sum to the wall time."""
    r = Run(raw)
    acc = {}
    for o in r.ops:
        spans = []
        for n, s in enumerate(x for x in r.spans if x["op"] == o["i"]):
            spans.append((s["layer"] + "#%d" % n, s["t0"], s["t1"], 1, 0))
        for n, a in enumerate(r.actions.get(o["i"], [])):
            for ph, (t0, t1) in a["phases"].items():
                spans.append(("catalyst#%d.%s" % (n, ph), t0, t1, 2, 0))
        for j in r.jobs.get(o["i"], []):
            spans.append(("exec#%d" % j["job"], j["t0"], j["t1"], 2, 1))
        self_ms = stats.self_times(("client", o["t0"], o["t1"]), spans)
        k = acc.setdefault(o["kind"], {"ops": 0, "wall_ms": 0.0, "self_ms": {}})
        k["ops"] += 1
        k["wall_ms"] += o["t1"] - o["t0"]
        for key, v in self_ms.items():
            layer = key.split("#")[0]
            k["self_ms"][layer] = k["self_ms"].get(layer, 0.0) + v
    for k in acc.values():
        n = k["ops"]
        k["wall_ms"] /= n
        k["self_ms"] = {l: v / n for l, v in sorted(k["self_ms"].items())}
    return acc


def per_layer(raw):
    r = Run(raw)
    n = len(r.ops)
    allc = dict.fromkeys(LEDGER_COUNTERS, 0)
    for o in r.ops:
        for k, v in _op_counters(r, o).items():
            allc[k] += v
    st = raw["storage"][0]
    m = {}
    commits = list(r.commits.values())
    m["MetadataStore.state_ms"] = stats.p50([c["state_ms"] for c in commits]) or 0.0
    m["MetadataStore.log_files"] = st["log_files"]
    m["MetadataStore.log_bytes"] = st["log_bytes"]
    m["MetadataStore.snapshots_per_op"] = _div(allc["snapshots"], n)
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for acts in r.actions.values():
        for a in acts:
            for ph in phases:
                if ph in a["phases"]:
                    t0, t1 = a["phases"][ph]
                    phases[ph] += t1 - t0
    for ph, v in phases.items():
        m["catalyst.%s_ms" % ph] = _div(v, n)
    m["catalyst.actions_per_op"] = _div(allc["actions"], n)
    m["exec.jobs_per_op"] = _div(allc["jobs"], n)
    m["exec.stages_per_op"] = _div(allc["stages"], n)
    m["exec.tasks_per_op"] = _div(allc["tasks"], n)
    busy = [stats.union_ms([(max(j["t0"], o["t0"]), min(j["t1"], o["t1"]))
                            for j in r.jobs.get(o["i"], []) if j["t1"] > j["t0"]])
            for o in r.ops]
    walls = [o["t1"] - o["t0"] for o in r.ops]
    m["exec.busy_ms"] = _div(sum(busy), n)
    m["exec.driver_ms"] = _div(sum(walls) - sum(busy), n)
    m["exec.bytes_read_per_op"] = _div(allc["in_bytes"], n)
    m["exec.rows_read_per_row_out"] = _div(allc["in_rows"], allc["rows_out"])
    m["exec.shuffle_bytes_per_op"] = _div(allc["shuffle_bytes"], n)
    m["exec.spill_bytes"] = sum(j["spill"] for js in r.jobs.values() for j in js)
    m["exec.gc_ms_per_op"] = _div(sum(j["gc_ms"] for js in r.jobs.values() for j in js), n)
    m["LakeTable.native_tier_frac"] = _div(allc["native_scans"], allc["scans"])
    m["LakeTable.files_live"] = _div(allc["files_live"], allc["native_scans"])
    m["LakeTable.files_read"] = _div(allc["files_read"], allc["native_scans"])
    m["LakeTable.files_pruned_frac"] = 1.0 - _div(allc["files_read"], allc["files_live"]) \
        if allc["files_live"] else 0.0
    m["LakeTable.delete_files_live"] = _div(allc["delete_files_live"], allc["native_scans"])
    writes = [o for o in r.ops
              if any(s["op"] == o["i"] and s["layer"] == WRITE_LAYER for s in r.spans)]
    wc = [r.commits[o["i"]] for o in writes if o["i"] in r.commits]
    m["LakeWrite.files_added_per_op"] = _div(sum(c["files_added"] for c in wc), len(wc))
    m["LakeWrite.delete_files_added_per_op"] = _div(
        sum(c["delete_files_added"] for c in wc), len(wc))
    written = sum(c["bytes_added"] for c in wc)
    m["LakeWrite.bytes_written_per_op"] = _div(written, len(wc))
    row_bytes = _div(st["plain_bytes"], st["live_rows"])
    m["LakeWrite.write_amp"] = _div(written, sum(o["rows_changed"] for o in writes) * row_bytes)
    ch = [s for s in r.spans if s["layer"] == "LakeOps" and s["name"] == "tableChanges"]
    change_rows = sum(s["rows"] for s in ch)
    m["LakeOps.changes_ms"] = stats.p50([s["t1"] - s["t0"] for s in ch]) or 0.0
    m["LakeOps.change_rows"] = _div(change_rows, len(ch))
    m["LakeOps.rows_read_per_change_row"] = _div(
        sum(j["in_rows"] for s in ch for j in r.jobs_in(s)), change_rows)
    mt = [s for s in r.spans if s["layer"] == "LakeOps" and s["name"] == "maintain"]
    m["LakeOps.maintain_ms"] = stats.p50([s["t1"] - s["t0"] for s in mt]) or 0.0
    m["LakeOps.maintain_bytes_rewritten"] = _div(
        sum(r.commits[s["op"]]["bytes_added"] for s in mt if s["op"] in r.commits), len(mt))
    rf = [s for s in r.spans if s["layer"] == "LakeMaterializedView"]
    rjobs = [(s, r.jobs_in(s)) for s in rf]
    m["LakeMaterializedView.refresh_jobs"] = _div(sum(len(js) for _, js in rjobs), len(rf))
    m["LakeMaterializedView.refresh_shuffle_bytes"] = _div(
        sum(j["shuffle_write"] for _, js in rjobs for j in js), len(rf))
    m["LakeMaterializedView.refresh_driver_ms"] = _div(sum(
        (s["t1"] - s["t0"]) - stats.union_ms([(j["t0"], j["t1"]) for j in js])
        for s, js in rjobs), len(rf))
    m["LakeMaterializedView.rows_read_per_change_row"] = _div(
        sum(j["in_rows"] for _, js in rjobs for j in js), change_rows)
    return m


def ledger(raw):
    """the deterministic counters of one traced run's first measured
    cycle, per op kind"""
    return by_kind(raw, raw["cycle"])
