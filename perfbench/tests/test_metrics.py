"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent.parent
sys.path.insert(0, str(ROOT / "perfbench"))
import compare  # noqa: E402
import metrics  # noqa: E402

MS = 1_000_000


def query(key, start_ms, end_ms, digest="d", rows=1, **extra):
    q = {"key": key, "module": "Text", "start_ns": start_ms * MS,
         "built_ns": start_ms * MS, "end_ns": end_ms * MS, "rows": rows,
         "schema": "x:int", "digest": digest}
    q.update(extra)
    return q


def run_result(passes):
    return {"cores": 4, "setup_ns": 3e9,
            "passes": [{"index": i, "kind": "cold" if i == 0 else "warm",
                        "traced": False, "queries": qs,
                        "peak_live_heap_bytes": (i + 1) * 2**20}
                       for i, qs in enumerate(passes)]}


REFS = {"a": {"check": "digest", "schema": "x:int", "rows": 1, "digest": "d"},
        "b": {"check": "rows", "schema": "x:int", "rows": 1, "digest": None}}


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_are_counted_once(self):
        self.assertEqual(metrics.union_ns([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ns([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(metrics.union_ns([]), 0)

    def test_driver_self_time_uses_the_union_not_the_sum(self):
        q = {"start_ns": 0, "end_ns": 100}
        jobs = [{"start_ns": 10, "end_ns": 60}, {"start_ns": 20, "end_ns": 70},
                {"start_ns": 30, "end_ns": 80}]
        # the jobs' summed wall time (150) exceeds the query's (100)
        self.assertEqual(metrics.self_ns(q, jobs), 30)

    def test_jobs_are_clipped_to_their_query(self):
        q = {"start_ns": 100, "end_ns": 200}
        self.assertEqual(metrics.self_ns(q, [{"start_ns": 50, "end_ns": 150}]), 50)


class KeyOrderTest(unittest.TestCase):
    KEYS = ["k%d" % i for i in range(8)]

    def test_same_seed_same_orders(self):
        self.assertEqual(metrics.pass_orders(self.KEYS, 7, 20),
                         metrics.pass_orders(self.KEYS, 7, 20))

    def test_other_seed_other_orders(self):
        self.assertNotEqual(metrics.pass_orders(self.KEYS, 7, 20),
                            metrics.pass_orders(self.KEYS, 8, 20))

    def test_cold_pass_runs_the_listed_order(self):
        for seed in (1, 2):
            self.assertEqual(metrics.pass_orders(self.KEYS, seed, 3)[0], self.KEYS)

    def test_every_pass_runs_every_key_once(self):
        for order in metrics.pass_orders(self.KEYS, 3, 20):
            self.assertEqual(sorted(order), self.KEYS)


class FailureCountingTest(unittest.TestCase):
    def test_corrupted_result_is_a_failure_not_a_time(self):
        fast_and_wrong = query("a", 0, 1, digest="corrupted")
        result = run_result([
            [query("a", 0, 500), query("b", 500, 900)],
            [query("a", 0, 300), query("b", 300, 500)],
            [fast_and_wrong, query("b", 1, 101)],
            [query("a", 0, 100), query("b", 100, 200)],
            [query("a", 0, 110), query("b", 110, 230)],
        ])
        check = metrics.Check(result, REFS)
        self.assertEqual((check.attempted, check.failed), (10, 1))
        self.assertIn("digest", check.failures[0][2])
        # pass 2 holds the failure
        self.assertEqual([p["index"] for p in check.warm], [1, 3, 4])
        m = metrics.end_to_end(result, check)
        self.assertEqual(m["setup_s"][0], 3)
        self.assertAlmostEqual(m["cold_s"][0], 0.9)
        self.assertAlmostEqual(m["warm_s"][0], 0.23)
        self.assertEqual(m["peak_live_heap_mb"][0], 4)

    def test_error_wrong_shape_and_unknown_key_fail(self):
        result = run_result([[
            query("a", 0, 1, error="boom"),
            query("b", 0, 1, rows=2),
            query("b", 0, 1, schema="y:int"),
            query("c", 0, 1),
            query("b", 0, 1, digest="anything"),
        ]])
        check = metrics.Check(result, REFS)
        self.assertEqual((check.attempted, check.failed), (5, 4))
        self.assertEqual(check.cold, [])
        self.assertIsNone(metrics.end_to_end(result, check)["cold_s"][0])


class WarmPassTest(unittest.TestCase):
    def test_one_stalled_execution_does_not_set_the_figure(self):
        passes = [{"queries": [query("a", 0, 100), query("b", 0, 200)]},
                  {"queries": [query("a", 0, 900), query("b", 0, 210)]},
                  {"queries": [query("a", 0, 110), query("b", 0, 190)]}]
        self.assertAlmostEqual(metrics.warm_pass_s(passes), 0.31)


class PeakHeapTest(unittest.TestCase):
    def test_passes_without_a_collection_are_left_out(self):
        passes = [{"peak_live_heap_bytes": b} for b in (0, 2 * 2**20, 4 * 2**20, 0)]
        self.assertEqual(metrics.peak_heap_mb(passes), 3)
        self.assertIsNone(metrics.peak_heap_mb(passes[:1]))


class PerLayerTest(unittest.TestCase):
    def spans(self):
        return [
            {"kind": "pass", "id": 1, "name": "warm", "index": 3,
             "jit_ms": 5, "classes_loaded": 2, "gc_ms": 1},
            {"kind": "query", "id": 2, "parent": 1, "name": "a", "module": "Text",
             "start_ns": 0, "end_ns": 100 * MS, "rows": 7},
            {"kind": "construct", "id": 3, "parent": 2, "start_ns": 0, "end_ns": 20 * MS},
            {"kind": "execute", "id": 4, "parent": 2, "start_ns": 20 * MS, "end_ns": 100 * MS},
            {"kind": "job", "id": 5, "parent": 2, "start_ns": 30 * MS, "end_ns": 70 * MS},
            {"kind": "job", "id": 6, "parent": 2, "start_ns": 50 * MS, "end_ns": 90 * MS},
            {"kind": "stage", "id": 7, "parent": 5, "query": 2, "tasks": 4,
             "run_ms": 120, "cpu_ns": 100 * MS, "gc_ms": 3, "overhead_ms": 8,
             "peak_exec_mem_bytes": 10, "shuffle_write_bytes": 5,
             "shuffle_write_ns": 2 * MS, "shuffle_read_bytes": 5, "fetch_wait_ms": 1,
             "spill_memory_bytes": 0, "spill_disk_bytes": 0, "input_bytes": 9,
             "output_bytes": 0, "output_records": 0},
            {"kind": "qe", "id": 8, "parent": 2},
            {"kind": "phase", "id": 9, "parent": 8, "name": "planning",
             "start_ns": 22 * MS, "end_ns": 25 * MS},
            {"kind": "blocks", "id": 10, "parent": 2, "persisted_bytes": 64,
             "blocks_written": 2},
        ]

    def test_pass_layers(self):
        spans = self.spans()
        out = metrics.pass_layers(spans[0], spans, cores=4)
        self.assertEqual(out["ops.Text.construct_ms"], 20)
        self.assertEqual(out["ops.Text.execute_ms"], 80)
        self.assertEqual(out["driver.self_ms"], 40)
        self.assertEqual(out["scheduler.job_ms"], 60)
        self.assertEqual(out["scheduler.jobs"], 2)
        self.assertEqual(out["scheduler.tasks"], 4)
        self.assertAlmostEqual(out["executor.busy_ratio"], 120 / (60 * 4))
        self.assertEqual(out["catalyst.planning_ms"], 3)
        self.assertEqual(out["catalyst.queries"], 1)
        self.assertEqual(out["storage.persisted_bytes"], 64)
        self.assertEqual(out["result.rows"], 7)
        self.assertEqual(out["ops.Graph.execute_ms"], 0)

    def test_every_layer_metric_is_reported(self):
        spans = self.spans()
        durations = [500, 300, 200, 260, 220]
        passes = [{"index": i, "kind": "cold" if i == 0 else "warm",
                   "traced": i in (0, 1, 3), "queries": [query("a", 0, d)]}
                  for i, d in enumerate(durations)]
        cold = dict(spans[0], id=11, name="cold", index=0)
        result = {"cores": 4, "passes": passes}
        out = metrics.per_layer(result, spans + [cold])
        self.assertEqual(set(out), set(metrics.layer_metric_units()))
        # traced pass 3 against the mean of untraced passes 2 and 4
        self.assertAlmostEqual(out["trace.overhead_ms"][0], 260 - 210)
        self.assertEqual(out["cold.jvm.jit_ms"][0], 5)


class BenchmarkSpecTest(unittest.TestCase):
    def test_benchmark_json_names_every_layer_metric(self):
        spec = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.layer_metric_units())

    def test_every_workload_module_has_layer_metrics(self):
        workloads = json.loads((ROOT / "perfbench" / "workloads.json").read_text())
        modules = {m for keys in workloads.values() for m in map(module_of, keys)}
        self.assertEqual(modules - set(metrics.MODULES), set())


def module_of(key):
    """The `graft.ops` module whose source file defines `key`."""
    ops = ROOT / "src" / "main" / "scala" / "graft" / "ops"
    for f in ops.glob("*.scala"):
        if f'"{key}"' in f.read_text():
            return f.stem
    raise KeyError(key)


class VerdictTest(unittest.TestCase):
    def test_improved_needs_nine_in_ten_pairs(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        b = [x - 1 for x in a]
        self.assertEqual(compare.verdict(a, b, "lower", 0.1)[0], "improved")
        b[0] = 11
        b[1] = 11
        self.assertNotEqual(compare.verdict(a, b, "lower", 0.1)[0], "improved")

    def test_no_worse_and_worse(self):
        a = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]
        self.assertEqual(compare.verdict(a, [x + 0.3 for x in a], "lower", 0.1)[0], "no worse")
        self.assertEqual(compare.verdict(a, [x * 1.3 for x in a], "lower", 0.1)[0], "worse")

    def test_wide_spread_is_unresolved(self):
        a = [5.0, 15.0, 8.0, 12.0, 10.0]
        self.assertEqual(compare.verdict(a, list(a), "lower", 0.1)[0], "unresolved")
        self.assertEqual(compare.verdict(a, [], "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
