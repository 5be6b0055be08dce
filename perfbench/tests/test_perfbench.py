"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests

`AssetSyncBookkeepingTest` builds the library and runs a tiny inventory
through the JVM (about two minutes on four cores); the rest is pure Python.
"""
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import checks  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

TINY = {
    "asset_sync": dict(epochs=3, tenants=3, instances_per_tenant=4, buckets_per_tenant=3,
                       principals_per_tenant=3, absent_every=2),
    "graph_derive": dict(orders=200, parts=60, customers=100),
    "stream_ingest": dict(docs=120, files=4),
}


def tree_digest(root):
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**"), recursive=True)):
        if os.path.isfile(path):
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def make(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        gen.GENERATORS[workload](seed, d, **TINY[workload])
        return tree_digest(d)

    def test_same_seed_same_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertEqual(self.make(w, 7, w + "a"), self.make(w, 7, w + "b"))

    def test_different_seed_different_inputs(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertNotEqual(self.make(w, 7, w + "a"), self.make(w, 8, w + "b"))


class InventoryModelTest(unittest.TestCase):
    def test_absent_tenant_keeps_scoped_rows_only(self):
        inv = gen.Inventory(random.Random(1), 2, 3, 2, 2)
        everyone = set(inv.tenants)
        inv.sync(gen.TAG0 + 1, everyone)
        gone = inv.tenants[0]
        inv.sync(gen.TAG0 + 2, everyone - {gone})
        kept = [v for v in inv.graph["Instance"].values() if v[0] == gone]
        self.assertEqual(len(kept), 3)
        self.assertTrue(all(v[1:3] == [gen.TAG0 + 1, gen.TAG0 + 1] for v in kept))
        # NICs carry no tenant: the absent tenant's NICs are cleaned up
        own_nics = {n for rec in inv.instances.values() if rec["tenant"] == gone
                    for n, _ in rec["nics"]}
        self.assertFalse(own_nics & set(inv.graph["Nic"]))

    def test_drift_reports_changed_rows_both_ways(self):
        inv = gen.Inventory(random.Random(2), 1, 4, 1, 1)
        tags = set(inv.tenants)
        items = inv.sync(gen.TAG0 + 1, tags)
        _, state = inv.expectations(gen.TAG0 + 1, items, tags, None)
        iid = sorted(inv.instances)[0]
        inv.instances[iid]["state"] = "terminated"
        items = inv.sync(gen.TAG0 + 2, tags)
        exp, _ = inv.expectations(gen.TAG0 + 2, items, tags, state)
        self.assertEqual(exp["drift"], {"added": [iid], "removed": [iid]})


class MetricsTest(unittest.TestCase):
    def test_union_length_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(metrics.union_length([(0, 10)], 2, 4), 2.0)
        self.assertEqual(metrics.union_length([]), 0.0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},   # overlaps span 1
            {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past the parent
            {"id": 4, "parent": 1, "start": 1.5, "end": 2.0},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(st[1], 3.0 - 0.5)
        self.assertAlmostEqual(st[4], 0.5)

    def test_tail_has_ten_samples_beyond(self):
        vals = list(range(1, 101))
        random.Random(3).shuffle(vals)
        value, pct, beyond = metrics.tail(vals)
        self.assertEqual(value, 90)
        self.assertAlmostEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(1 for v in vals if v > value), 10)
        value, pct, _ = metrics.tail(list(range(11)))
        self.assertEqual(value, 0)
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))

    def test_per_layer_attributes_jobs_to_innermost_span(self):
        spans = [
            {"id": 0, "name": "op", "parent": -1, "start": 0.0, "end": 5.0, "compiles": 9},
            {"id": 1, "name": "op", "parent": -1, "start": 5.0, "end": 10.0, "compiles": 9},
            {"id": 2, "name": "intel", "parent": 1, "start": 5.0, "end": 8.0, "compiles": 4},
        ]
        joblog = {"jobs": [
            {"id": 0, "start": 5.5, "end": 6.5, "stages": [0], "desc": "", "batch": ""},
            {"id": 1, "start": 8.5, "end": 9.0, "stages": [1], "desc": "", "batch": ""}],
            "stages": [{"id": 0, "tasks": 4, "cpu_s": 1.5, "shuffle_write_mb": 2.0,
                        "shuffle_read_mb": 0.0},
                       {"id": 1, "tasks": 2, "cpu_s": 0.5, "shuffle_write_mb": 0.0,
                        "shuffle_read_mb": 0.0}]}
        raw = {"spans": spans, "joblog": joblog,
               "warm_counters": {"start": {"gc_ms": 0, "jit_ms": 0},
                                 "end": {"gc_ms": 100, "jit_ms": 300}}}
        out = metrics.per_layer("asset_sync", raw, 5.0)
        self.assertEqual(out["intel.jobs"], 1)
        self.assertAlmostEqual(out["intel.wall_s"], 3.0)
        self.assertAlmostEqual(out["intel.driver_gap_s"], 2.0)
        self.assertAlmostEqual(out["intel.task_cpu_s"], 1.5)
        self.assertEqual(out["intel.codegen_compiles"], 4)
        self.assertAlmostEqual(out["op.self_s"], 2.0)
        self.assertEqual(out["engine.stages"], 2)
        self.assertEqual(out["engine.tasks"], 6)
        self.assertAlmostEqual(out["engine.gc_s"], 0.1)
        self.assertEqual(out["centrality.ktruss.jobs"], 0)

    def test_benchmark_json_lists_every_metric(self):
        with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]],
                         metrics.per_layer_names())
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in spec["end_to_end"]], metrics.END_TO_END)


class CompareTest(unittest.TestCase):
    def verdict(self, base, change, better="lower", bound=0.1):
        return compare.verdict(base, change, list(zip(base, change)), better, bound)[0]

    def test_clear_gain_is_improved(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        self.assertEqual(self.verdict(base, [x * 0.8 for x in base]), "improved")
        self.assertEqual(self.verdict(base, [x * 1.2 for x in base], better="higher"),
                         "improved")

    def test_regression_beyond_bound_is_worse(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        self.assertEqual(self.verdict(base, [x * 1.2 for x in base]), "worse")

    def test_small_drift_within_bound_is_no_worse(self):
        base = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        self.assertEqual(self.verdict(base, [x * 1.03 for x in base]), "no worse")

    def test_noisy_parent_is_unresolved(self):
        base = [6.0, 14.0, 8.0, 12.0, 10.0, 7.0, 13.0, 9.0, 11.0, 10.0]
        change = [10.0, 8.0, 12.0, 9.0, 11.0, 10.5, 9.5, 10.0, 12.5, 7.5]
        self.assertEqual(self.verdict(base, change), "unresolved")

    def test_ties_count_for_neither_side(self):
        base = [1.0] * 10
        self.assertEqual(compare.verdict(base, base, list(zip(base, base)), "lower", 0.1),
                         ("no worse", 0.0))


    def test_placeholder_metric_gets_no_verdict(self):
        import contextlib
        import io
        names = [n for n, _, _, _ in metrics.END_TO_END]
        with tempfile.TemporaryDirectory() as base, tempfile.TemporaryDirectory() as change:
            for d, scale in ((base, 1.0), (change, 2.0)):
                for seed in (1, 2, 3):
                    rec = {"stamp": {"workload": "graph_derive", "trace": 0, "seed": seed},
                           "metrics": {n: scale * (seed + 10) for n in names}}
                    with open(os.path.join(d, f"r{seed}.json"), "w") as f:
                        json.dump(rec, f)
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                compare.main(["compare.py", base, change])
        rows = {line.split()[1]: line.split()[-1] for line in out.getvalue().splitlines()[1:]}
        self.assertEqual(rows["state_mb"], "n/a")
        self.assertEqual(rows["op_p50_s"], "worse")


class AssetSyncBookkeepingTest(unittest.TestCase):
    """The generator's bookkeeping agrees with a tiny run of the library."""

    def test_tiny_run_matches_bookkeeping(self):
        import run
        classpath = run.build()
        work = tempfile.mkdtemp()
        try:
            inputs = os.path.join(work, "inputs")
            gen.asset_sync(5, inputs, **TINY["asset_sync"])
            os.makedirs(os.path.join(work, "tmp"))
            result = os.path.join(work, "raw.json")
            subprocess.run(["java", "-Xmx2g"] + run.JVM_FLAGS
                           + [f"--add-opens={m}=ALL-UNNAMED" for m in run.ADD_OPENS]
                           + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
                              "graftbench.Main", "asset_sync", inputs, work, "600", "0", "2",
                              result],
                           check=True, capture_output=True, timeout=600)
            with open(result) as f:
                ops = json.load(f)["ops"]
            self.assertEqual(len(ops), TINY["asset_sync"]["epochs"])
            bad, msgs = checks.asset_sync(inputs, work, ops)
            self.assertEqual(bad, set(), msgs)
        finally:
            shutil.rmtree(work)


if __name__ == "__main__":
    unittest.main()
