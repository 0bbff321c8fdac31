#!/usr/bin/env python3
"""Steady-state lake benchmark: one closed-loop client drives the library
through its public surface on one of three workloads (scan, dml, mv_cdc),
checks every answer, and prints one JSON result line.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the library and the
benchmark from source with sbt (offline); later runs reuse the build while
no source file changes. `--trace 1` runs the same workload with Spark
listeners attached and reports the per-layer metrics instead; it also
writes the per-op-type breakdown and counters to perfbench/out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import metrics, opgen  # noqa: E402

OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CORES = min(4, os.cpu_count() or 1)
SETUPS = 3
HEAP = "3g"
# a run must end within 180 s; one that built first may take 900 s
RUN_LIMIT_S = 175
BUILD_RUN_LIMIT_S = 880
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=%s/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g" % os.path.expanduser("~"))


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def sources_fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                st = os.stat(p)
                h.update(("%s %d %d\n" % (p, st.st_size, st.st_mtime_ns)).encode())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        h.update(open(p, "rb").read())
    return h.hexdigest()


def build():
    """compile the library and the benchmark unless the build is current;
    returns (the java command prefix, whether it built)"""
    stamp = os.path.join(TARGET, "build.stamp")
    fp = sources_fingerprint()
    built = not (os.path.exists(stamp) and open(stamp).read() == fp)
    if built:
        log("perfbench: building with sbt ...")
        tmp = os.path.join(OUT, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline",
                   SBT_OPTS=SBT_OPTS + " -Djava.io.tmpdir=" + tmp)
        t0 = time.time()
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_RUN_LIMIT_S)
        if p.returncode != 0:
            log(p.stdout.decode(errors="replace")[-4000:])
            raise SystemExit("perfbench: build failed")
        log("perfbench: built in %.0f s" % (time.time() - t0))
        for f in os.listdir(TARGET):
            if f.endswith(".jsa"):
                os.remove(os.path.join(TARGET, f))
        with open(stamp, "w") as f:
            f.write(fp)
    cp = open(os.path.join(TARGET, "classpath.txt")).read().strip()
    opts = [o for o in open(os.path.join(TARGET, "javaopts.txt")).read().split("\n")
            if o and not o.startswith("-Xmx")]
    return ["java", "-Xmx" + HEAP, "-Duser.timezone=UTC"] + opts + ["-cp", cp], built


def class_sharing(workload):
    """(JVM flags, archive to keep after a good run): the first run of a
    workload after a build writes a class-data sharing archive of the
    classes it loaded; later runs map it instead of loading and verifying
    those classes from the jars, which cuts the JVM's start-up"""
    jsa = os.path.join(TARGET, "cds-%s.jsa" % workload)
    if os.path.exists(jsa):
        return ["-XX:SharedArchiveFile=" + jsa], None
    tmp = "%s.%d.tmp" % (jsa, os.getpid())
    return ["-XX:ArchiveClassesAtExit=" + tmp], (tmp, jsa)


def run_jvm(java, workload, seed, seconds, trace, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    ops_path = os.path.join(work, "ops.json")
    with open(ops_path, "w") as f:
        json.dump(opgen.generate(workload, seed), f)
    out_path = os.path.join(OUT, "raw-%s-%d-trace%d.json" % (workload, seed, trace))
    log_path = os.path.join(OUT, "%s-%d-trace%d.log" % (workload, seed, trace))
    cds, archive = class_sharing(workload)
    cmd = java[:1] + cds + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + java[1:] + [
        "perfbench.Main", workload, ops_path, str(seconds), str(trace), str(CORES),
        str(SETUPS), work, os.path.join(OUT, "cache"), out_path]
    if os.path.exists(out_path):
        os.remove(out_path)
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if archive and os.path.exists(archive[0]):
        if code == 0:
            os.replace(*archive)
        else:
            os.remove(archive[0])
    if code is None:
        raise SystemExit("perfbench: run timed out; see " + log_path)
    if code != 0:
        log(open(log_path, errors="replace").read()[-4000:])
        raise SystemExit("perfbench: run failed with exit code %d" % code)
    with open(out_path) as f:
        return json.load(f)


def report(raw, trace):
    # warm-up operations are checked too, so they count as attempted
    attempted = len(raw["ops"]) + len(raw["failures"])
    failed = sum(1 for o in raw["ops"] if not o["ok"]) + len(raw["failures"])
    e2e, extra, tails = metrics.end_to_end(raw)
    for o in raw["ops"]:
        if not o["ok"]:
            log("FAILED op %d (%s): %s" % (o["i"], o["kind"], o["error"]))
    for msg in raw["failures"]:
        log("FAILED check: " + msg)
    print("workload %s  seed %d  local[%d]  measured ops %d (cycle of %d)  loop %.1f s  "
          "snapshots %d" % (raw["workload"], raw["seed"], raw["cores"],
                            len(metrics.measured(raw)), raw["cycle"], raw["loop_ms"] / 1000,
                            raw["snapshots"]))
    units = dict(metrics.END_TO_END, **metrics.EXTRA)
    for name, v in list(e2e.items()) + list(extra.items()):
        note = ""
        if name in tails:
            t = tails[name]
            note = "  (p%.1f of %d samples, %d beyond)" % (
                t["percentile"], t["samples"], t["beyond"])
        print("  %-28s %12.4f %-6s%s" % (name, v, units[name], note))
    print("  at each cycle end: storage_amp, retained_heap_mb: " + ", ".join(
        "%.4f %.1f" % x for x in metrics.storage_series(raw)))
    if trace:
        values = metrics.per_layer(raw)
        names = metrics.PER_LAYER
        breakdown = metrics.breakdown(raw)
        path = os.path.join(OUT, "trace-%s-%d.json" % (raw["workload"], raw["seed"]))
        with open(path, "w") as f:
            json.dump({"workload": raw["workload"], "seed": raw["seed"],
                       "end_to_end": e2e, "per_layer": values, "breakdown": breakdown,
                       "ledger": metrics.ledger(raw)}, f, indent=1, sort_keys=True)
        for name, v in values.items():
            print("  %-44s %14.4f %s" % (name, v, names[name]))
        print("  mean ms per op: wall = self time of each layer + client residual")
        for kind, b in sorted(breakdown.items()):
            print("  %-14s n=%-3d wall %8.1f = %s" % (kind, b["ops"], b["wall_ms"], " + ".join(
                "%s %.1f" % (layer, ms) for layer, ms in b["self_ms"].items())))
        print("  trace artifact: " + os.path.relpath(path, ROOT))
    else:
        values, names = e2e, metrics.END_TO_END
    ok = failed == 0
    print(json.dumps({
        "correct": ok, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": values[n], "unit": names[n]} for n in names}}))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(opgen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: run from a checkout of the library "
                         "(build.sbt and src/main/scala are missing)")
    start = time.time()
    java, built = build()
    limit = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
    work = os.path.join(OUT, "work-%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    try:
        raw = run_jvm(java, a.workload, a.seed, a.seconds, a.trace, work,
                      limit - time.time())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if report(raw, a.trace) else 1


if __name__ == "__main__":
    sys.exit(main())
