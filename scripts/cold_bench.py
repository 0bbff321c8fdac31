#!/usr/bin/env python3
"""Cold-regime bench protocol (r15, VERDICT r14 stretch #8).

The graded sweep is WARM (median of 3 after warmup); 100 TB production
scans run COLD off object storage. This makes the cold claim a TRACKED
SERIES instead of an addendum: for each entry, drop the OS page cache,
run ONCE with no warmup (first-read I/O included), each engine in turn,
spark in a fresh JVM per entry. Committed per round as
bench_artifacts/COLD_r{N}.json.

Usage:
  python3 scripts/cold_bench.py [sfDir] [oracle_sql.json] [outPath] [e1,e2,...]

Defaults: /tmp/gsf10, /tmp/verify_out/oracle_sql.json,
bench_artifacts/COLD.json, and the 5-entry family below (heaviest +
layout-sensitive: q03 inverts cold per the r13 dossier; the b-twins are
where the bounded-layout cold story lives; t11 is the heavy
shuffle entry).
"""
import json, os, subprocess, sys, time

DEFAULT_ENTRIES = [
    "q01_pricing_summary", "q03_top_revenue_orders",
    "q05b_bucketed_spj", "q07b_bucketed_spj",
    "t11_minhash_lsh_pairs",
]


def drop_caches():
    subprocess.run(["sync"], check=True)
    with open("/proc/sys/vm/drop_caches", "w") as f:
        f.write("3\n")


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/gsf10"
    oracle = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out/oracle_sql.json"
    out_path = sys.argv[3] if len(sys.argv) > 3 else "bench_artifacts/COLD.json"
    entries = sys.argv[4].split(",") if len(sys.argv) > 4 else DEFAULT_ENTRIES
    # single cold runs are NOT reproducible on local NVMe (a q05b cold
    # single swung 29-174 s across sittings): each cell is the MEDIAN of
    # COLD_RUNS full drop-caches+fresh-JVM cycles, raw triples recorded
    runs = int(os.environ.get("COLD_RUNS", "3"))
    spark_times, duck_times = {}, {}
    spark_runs, duck_runs = {}, {}
    for e in entries:
        ts = []
        for _ in range(runs):
            drop_caches()
            # r16: COLD_MAXPART_MB selects the cold scan profile. 16 MB is
            # the r13-r15 series value (kept as default for series
            # continuity); the measured COLD profile for raw full scans is
            # row-group-sized-or-larger partitions (BASELINE.md r16:
            # 16->352 MB took q03 cold 60.4->33.7 s, -44%, warm neutral).
            env = dict(os.environ, SPARK_GRAFT_COLD="1", SPARK_GRAFT_CPUS="32",
                       SPARK_GRAFT_MAXPART_MB=os.environ.get("COLD_MAXPART_MB", "16"),
                       SPARK_GRAFT_SF_DIR=sf_dir,
                       SPARK_GRAFT_ONLY=e,
                       SPARK_GRAFT_BENCH_OUT=f"/tmp/cold_{e}.json")
            subprocess.run(["sbt", "-batch", "runMain graft.Bench"], env=env,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                           check=True)
            ts.append(json.load(open(f"/tmp/cold_{e}.json"))["queries"][e])
        spark_runs[e] = sorted(ts)
        spark_times[e] = spark_runs[e][len(ts) // 2]
        print(f"-- spark cold {e}: {spark_times[e]:.2f}s {spark_runs[e]}", file=sys.stderr)
        if os.environ.get("COLD_SKIP_DUCK") == "1":
            continue  # spark-only pass (e.g. a conf A/B over the same cells)
        # per-entry duck timeout: several t-entries DNF in DuckDB at sf10+
        # even warm (r14 verdict) — record the DNF instead of hanging
        timeout = int(os.environ.get("COLD_DUCK_TIMEOUT", "600"))
        ds = []
        for _ in range(runs):
            drop_caches()
            try:
                r = subprocess.run(
                    [sys.executable, "scripts/bench_duckdb.py", sf_dir, oracle, e],
                    env=dict(os.environ, BENCH_DUCK_COLD="1"),
                    capture_output=True, text=True, check=True, timeout=timeout)
                ds.append(json.loads(
                    r.stdout.strip().splitlines()[-1])["queries"].get(e))
            except subprocess.TimeoutExpired:
                ds = f"DNF>{timeout}s"
                break
        if isinstance(ds, list) and ds and ds[0] is not None:
            duck_runs[e] = sorted(ds)
            duck_times[e] = duck_runs[e][len(ds) // 2]
            print(f"-- duck  cold {e}: {duck_times[e]:.2f}s {duck_runs[e]}", file=sys.stderr)
        else:
            duck_times[e] = ds if isinstance(ds, str) else None
            print(f"-- duck  cold {e}: {duck_times[e]}", file=sys.stderr)
    result = {
        "protocol": "cold: sync+drop_caches(3) before EACH engine run; "
                    "1 run, no warmup; fresh JVM per spark entry; "
                    "spark local[32] maxPartitionBytes="
                    + os.environ.get("COLD_MAXPART_MB", "16")
                    + "MB; duckdb 32 threads",
        "sf_dir": sf_dir, "epoch_ms": int(time.time() * 1000),
        "runs_per_cell": runs,
        "spark": spark_times, "duckdb": duck_times,
        "spark_runs": spark_runs, "duckdb_runs": duck_runs,
        "spark_conf": os.environ.get("SPARK_GRAFT_CONF"),
        "ratio": {e: round(spark_times[e] / duck_times[e], 3)
                  for e in entries
                  if isinstance(duck_times.get(e), (int, float))},
    }
    json.dump(result, open(out_path, "w"), indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
