#!/usr/bin/env python3
"""Counter ledger: the deterministic per-op-type counters of traced runs
(jobs, stages, tasks, files, snapshots, rows and bytes), which do not
depend on how loaded the machine is.

    python3 perfbench/ledger.py record [--seed N] [--out FILE]
        run each workload traced and write the ledger (default:
        perfbench/ledger.json)
    python3 perfbench/ledger.py diff OLD NEW
        list every counter that rose from OLD to NEW; exit 1 if any did
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("scan", "dml", "mv_cdc")
SECONDS = 6


def record(seed, out):
    ledger = {"seed": seed, "workloads": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
               "--seed", str(seed), "--seconds", str(SECONDS), "--trace", "1"]
        p = subprocess.run(cmd, cwd=ROOT)
        if p.returncode != 0:
            raise SystemExit("ledger: traced %s run failed" % w)
        with open(os.path.join(HERE, "out", "trace-%s-%d.json" % (w, seed))) as f:
            ledger["workloads"][w] = json.load(f)["ledger"]
    with open(out, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")


def rises(old, new):
    """(workload, op kind, counter, old, new) for every counter that rose;
    an op kind or counter missing from OLD counts as rising from 0"""
    out = []
    for w, kinds in sorted(new["workloads"].items()):
        for kind, counters in sorted(kinds.items()):
            before = old["workloads"].get(w, {}).get(kind, {})
            for name, v in sorted(counters.items()):
                if v > before.get(name, 0):
                    out.append((w, kind, name, before.get(name, 0), v))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--seed", type=int, default=1)
    r.add_argument("--out", default=os.path.join(HERE, "ledger.json"))
    d = sub.add_parser("diff")
    d.add_argument("old")
    d.add_argument("new")
    a = ap.parse_args()
    if a.cmd == "record":
        record(a.seed, a.out)
        return 0
    with open(a.old) as f:
        old = json.load(f)
    with open(a.new) as f:
        new = json.load(f)
    found = rises(old, new)
    for w, kind, name, before, after in found:
        print("%-7s %-14s %-20s %14s -> %s" % (w, kind, name, before, after))
    print("%d counters rose" % len(found))
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
