"""Self-tests of the benchmark harness arithmetic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from harness import metrics, opgen, stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, beyond = stats.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))

    def test_never_below_the_median(self):
        xs = list(range(1, 15))  # 14 samples: 11th largest is 4
        v, pct, beyond = stats.tail(xs)
        self.assertEqual(v, 8)  # upper median
        self.assertEqual(beyond, 6)
        self.assertGreaterEqual(v, stats.p50(xs))

    def test_small_and_empty(self):
        self.assertEqual(stats.tail([3.0]), (3.0, 100.0, 0))
        self.assertEqual(stats.tail([]), (None, None, 0))


class SelfTime(unittest.TestCase):
    def test_parts_sum_to_the_root(self):
        spans = [("write", 10, 60, 1, 0), ("catalyst", 15, 30, 2, 0),
                 ("exec", 25, 50, 2, 1), ("read", 70, 90, 1, 0),
                 ("exec2", 80, 200, 2, 1)]  # runs past the root: clipped
        out = stats.self_times(("client", 0, 100), spans)
        self.assertAlmostEqual(sum(out.values()), 100.0)
        self.assertAlmostEqual(out["client"], 10 + 10)  # 0-10, 60-70
        self.assertAlmostEqual(out["catalyst"], 10)  # 15-25; 25-30 goes to exec
        self.assertAlmostEqual(out["exec"], 25)
        self.assertAlmostEqual(out["write"], 5 + 10)  # 10-15, 50-60
        self.assertAlmostEqual(out["read"], 10)  # 70-80
        self.assertAlmostEqual(out["exec2"], 20)  # 80-100

    def test_no_children(self):
        self.assertEqual(stats.self_times(("client", 5, 8), []), {"client": 3})

    def test_union(self):
        self.assertAlmostEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ms([]), 0.0)


class JobAttribution(unittest.TestCase):
    def test_jobs_go_to_the_op_of_their_group(self):
        jobs = [{"job": 1, "group": "perfbench-op-7"},
                {"job": 2, "group": "perfbench-op-7"},
                {"job": 3, "group": "perfbench-op-12"},
                {"job": 4, "group": ""},            # a check between ops
                {"job": 5, "group": "someone-else"},
                {"job": 6, "group": "perfbench-op-x"}]
        by = stats.jobs_by_op(jobs)
        self.assertEqual(sorted(by), [7, 12])
        self.assertEqual([j["job"] for j in by[7]], [1, 2])
        self.assertEqual([j["job"] for j in by[12]], [3])

    def test_group_parse(self):
        self.assertEqual(stats.op_of_group("perfbench-op-0"), 0)
        self.assertIsNone(stats.op_of_group(None))


class StorageAmp(unittest.TestCase):
    def test_everything_under_the_root_over_plain(self):
        st = {"data_bytes": 300, "log_bytes": 50, "checkpoint_bytes": 50,
              "log_files": 3, "plain_bytes": 200, "live_rows": 10}
        self.assertAlmostEqual(stats.storage_amp(st), 2.0)


class SeededOps(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        for w in opgen.GENERATORS:
            self.assertEqual(opgen.generate(w, 42, 300), opgen.generate(w, 42, 300))

    def test_other_seed_other_sequence(self):
        for w in opgen.GENERATORS:
            self.assertNotEqual(opgen.generate(w, 1, 300)["ops"],
                                opgen.generate(w, 2, 300)["ops"])

    def test_every_seed_runs_the_same_kinds(self):
        for w in opgen.GENERATORS:
            kinds = [[o["t"] for o in opgen.generate(w, s, 100)["ops"]] for s in (1, 2)]
            self.assertEqual(kinds[0], kinds[1])
        ops = opgen.generate("dml", 3, 10 * len(opgen.DML_CYCLE))
        kinds = [o["t"] for o in ops["ops"][ops["warmup"]:]]
        self.assertEqual(kinds.count("maintain"), 10)

    def test_fresh_keys_never_repeat(self):
        ops = opgen.generate("dml", 5, 2000)["ops"]
        fresh = [k for o in ops if o["t"] in ("insert", "append")
                 for k in range(o["k0"], o["k0"] + o["n"])]
        self.assertEqual(len(fresh), len(set(fresh)))
        self.assertGreater(min(fresh), opgen.INITIAL_KEYS["dml"])


class CycleThroughput(unittest.TestCase):
    def raw(self, kinds, ms):
        return {"workload": "dml", "warmup": 0, "cycle": len(opgen.DML_CYCLE),
                "ops": [{"i": i, "kind": k, "t0": 0, "t1": ms[k]} for i, k in enumerate(kinds)]}

    def test_partial_cycle_weighs_kinds_by_the_mix(self):
        ms = {k: 100.0 for k in opgen.DML_CYCLE}
        ms["merge"] = 1700.0  # one merge per cycle
        seen = list(dict.fromkeys(opgen.DML_CYCLE)) + ["merge"] * 5  # merges overrepresented
        raw = self.raw(seen, ms)
        n = len(opgen.DML_CYCLE)
        want = n / (((n - 1) * 100 + 1700) / 1000)
        self.assertAlmostEqual(metrics.cycle_ops_per_s(raw, raw["ops"]), want)


class Breakdown(unittest.TestCase):
    def test_layers_and_residual_sum_to_wall(self):
        raw = {"workload": "dml", "warmup": 1, "cycle": 1, "setup_s": [1.0],
               "heap_mb": [1.0], "probe_ms": [40.0, 50.0, 60.0],
               "failures": [],
               "storage": [{"data_bytes": 1, "log_bytes": 1, "checkpoint_bytes": 0,
                            "log_files": 1, "plain_bytes": 1, "live_rows": 1}],
               "ops": [{"i": 0, "kind": "insert", "t0": 0, "t1": 5, "ok": True,
                        "rows_out": 0, "rows_changed": 1},
                       {"i": 1, "kind": "delete", "t0": 10, "t1": 110, "ok": True,
                        "rows_out": 0, "rows_changed": 3}],
               "spans": [{"op": 1, "layer": "LakeWrite", "name": "delete",
                          "t0": 12, "t1": 100, "rows": -1}],
               "jobs": [{"op": 1, "job": 9, "group": "perfbench-op-1", "t0": 40,
                         "t1": 60, "stages": 2, "tasks": 8, "in_rows": 5,
                         "in_bytes": 50, "out_rows": 0, "out_bytes": 0,
                         "shuffle_read": 0, "shuffle_write": 7, "spill": 0,
                         "gc_ms": 0}],
               "actions": [{"op": 1, "func": "count", "scans": [],
                            "phases": {"analysis": [20, 30], "planning": [35, 45]}}],
               "commits": []}
        b = metrics.breakdown(raw)
        self.assertEqual(list(b), ["delete"])  # op 0 is warm-up
        parts = b["delete"]["self_ms"]
        self.assertAlmostEqual(sum(parts.values()), b["delete"]["wall_ms"])
        self.assertAlmostEqual(parts["exec"], 20)
        self.assertAlmostEqual(parts["catalyst"], 15)  # 20-30, 35-40
        self.assertAlmostEqual(parts["client"], 12)
        self.assertEqual(metrics.by_kind(raw)["delete"]["jobs"], 1)
        with mock.patch.dict(opgen.CYCLES, {"dml": ("delete",)}):
            e2e, extra, _ = metrics.end_to_end(raw)
        self.assertEqual(sorted(e2e), sorted(metrics.END_TO_END))
        self.assertAlmostEqual(extra["probe_ms"], 50.0)
        # a one-op cycle: one delete of 100 ms
        self.assertAlmostEqual(e2e["op_cost_x"], 100.0 / 50.0)


if __name__ == "__main__":
    unittest.main()
