"""Unit tests of the benchmark's pure parts (no JVM).

Run: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import benchlib as bl  # noqa: E402


class SeedTest(unittest.TestCase):
    def test_same_seed_same_operation_order(self):
        ops = ["a", "b", "c", "d"]
        self.assertEqual(bl.pass_orders(ops, 7), bl.pass_orders(ops, 7))
        self.assertNotEqual(bl.pass_orders(ops, 7), bl.pass_orders(ops, 8))
        for order in bl.pass_orders(ops, 7):
            self.assertEqual(sorted(order), ops)

    def test_same_seed_same_micro_batch_split(self):
        self.assertEqual(bl.batch_sizes(3, 1035), bl.batch_sizes(3, 1035))
        self.assertNotEqual(bl.batch_sizes(3, 1035), bl.batch_sizes(4, 1035))

    def test_micro_batches_cover_every_document_once(self):
        lo, hi = bl.STREAM_BATCH_DOCS
        for seed in range(20):
            sizes = bl.batch_sizes(seed, 1035)
            self.assertEqual(sum(sizes), 1035)
            self.assertTrue(all(lo <= s <= hi for s in sizes[:-1]))
            self.assertTrue(1 <= sizes[-1] <= hi)


class StatsTest(unittest.TestCase):
    def test_quantile_known_vectors(self):
        xs = list(range(1, 11))
        self.assertEqual(bl.quantile(xs, 0.5), 5.5)
        self.assertAlmostEqual(bl.quantile(xs, 0.9), 9.1)
        self.assertEqual(bl.quantile(xs, 0.0), 1)
        self.assertEqual(bl.quantile(xs, 1.0), 10)
        self.assertEqual(bl.quantile([4.0], 0.9), 4.0)
        self.assertEqual(bl.quantile([3, 1, 2], 0.5), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(bl.samples_beyond(100, 0.9), 10)
        self.assertEqual(bl.samples_beyond(99, 0.9), 9)
        self.assertIsNone(bl.tail(list(range(99))))
        value, n = bl.tail(list(range(100)))
        self.assertEqual(n, 100)
        self.assertAlmostEqual(value, 89.1)
        self.assertIsNone(bl.tail([]))

    def test_interval_union(self):
        self.assertEqual(bl.interval_union([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(bl.interval_union([(0, 2), (1, 3)], 1, 2), 1)
        self.assertEqual(bl.interval_union([], 0, 1), 0)


class LedgerTest(unittest.TestCase):
    def test_ledger_appends_and_never_rewrites(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "sub", "ledger.jsonl")
            bl.append_ledger(path, {"run": 1})
            with open(path) as f:
                first = f.read()
            bl.append_ledger(path, {"run": 2})
            with open(path) as f:
                both = f.read()
            self.assertTrue(both.startswith(first))
            self.assertEqual([json.loads(x)["run"] for x in both.splitlines()], [1, 2])


def _result(failing_name=None):
    """A harness result with two passes of two operations; pass 1 traced."""
    ops = []
    for p in (0, 1):
        for name, t in (("a", 1.0 + p), ("b", 3.0)):
            o = {"pass": p, "name": name, "t_s": t, "status": "ok", "heap_mb": 50.0 + p,
                 "jvm_gc_s": 0.1, "release_s": 0.2}
            if p == 1:
                o.update({"build_s": 0.4, "exec_s": t - 0.4, "build_jobs": 2, "exec_jobs": 1,
                          "task_run_s": 2.0, "scan_bytes": 10.0, "peak_mem_bytes": 5.0 + t})
            ops.append(o)
    if failing_name:
        ops.append({"pass": 0, "name": failing_name, "t_s": 0.01, "status": "error: boom",
                    "heap_mb": 99.0})
    return {"ops": ops, "setups": [{"setup_s": s, "session_s": 1.0, "warmup_s": s - 1}
                                   for s in (9.0, 4.0, 5.0)],
            "passes": [{"pass": 0, "traced": False}, {"pass": 1, "traced": True}],
            "spans": []}


class AggregateTest(unittest.TestCase):
    def test_end_to_end(self):
        m = bl.end_to_end(_result(), "batch", 2, {})
        self.assertEqual(m["setup_s"], 5.0)   # median of the three set-ups
        self.assertEqual(m["pass_s"], 4.0)    # untraced pass 0 only
        self.assertEqual(m["op_p50_s"], 2.0)
        self.assertEqual(m["heap_peak_mb"], 50.5)  # median of the per-pass peaks

    def test_failed_operations_are_left_out_of_every_timing(self):
        r = _result(failing_name="boom")
        ok = bl.ok_ops(r, {})
        self.assertEqual(len(r["ops"]) - len(ok), 1)
        m = bl.end_to_end(r, "batch", 3, {"boom": "error"})
        self.assertEqual(m["op_p50_s"], 2.0)
        # the pass holding the failure still times only its good operations
        self.assertEqual(bl.pass_times(r, "batch", 3, {}, traced=False), {0: 4.0})
        # an oracle disagreement excludes every execution of that operation
        m = bl.end_to_end(_result(), "batch", 2, {"b": "output disagrees"})
        self.assertEqual(m["op_p50_s"], 1.0)

    def test_per_layer(self):
        m = bl.per_layer(_result(), "batch", 2, {}, cpus=4, data_s=0.5)
        self.assertEqual(set(m), set(bl.per_layer_names()))
        self.assertEqual(m["build.s"], 0.8)
        self.assertEqual(m["exec.jobs"], 6)
        self.assertEqual(m["exec.peak_mem_bytes"], 8.0)
        self.assertAlmostEqual(m["exec.core_busy_frac"], 4.0 / (5.0 * 4))
        self.assertAlmostEqual(m["trace.overhead_s"], 1.0)
        self.assertEqual(m["setup.data_s"], 0.5)

    def test_self_times(self):
        spans = [
            {"op": "p1:a", "name": "op", "start_ms": 0, "end_ms": 100, "parent": ""},
            {"op": "p1:a", "name": "build", "start_ms": 0, "end_ms": 40, "parent": "p1:a"},
            {"op": "p1:a", "name": "exec", "start_ms": 40, "end_ms": 100, "parent": "p1:a"},
            {"op": "p1:a", "name": "job 1", "start_ms": 10, "end_ms": 30, "parent": "build"},
            {"op": "p1:a", "name": "plan.planning", "start_ms": 40, "end_ms": 50,
             "parent": "exec"},
            {"op": "p1:a", "name": "job 2", "start_ms": 60, "end_ms": 90, "parent": "exec"},
        ]
        s = bl.self_times(spans)["p1:a"]
        self.assertAlmostEqual(s["op.self_s"], 0.0)
        self.assertAlmostEqual(s["build.self_s"], 0.020)
        self.assertAlmostEqual(s["exec.self_s"], 0.020)


class BenchmarkJsonTest(unittest.TestCase):
    def test_benchmark_json_matches_what_the_harness_reports(self):
        root = os.path.dirname(bl.HERE)
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         bl.END_TO_END_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {n: bl.layer_unit(n) for n in bl.per_layer_names()})
        for w in spec["workloads"]:
            self.assertIn(w["name"], bl.WORKLOADS)


class OracleTest(unittest.TestCase):
    def test_stream_reduction_prefers_exact_then_jaccard_then_smallest_id(self):
        rows = [(1, "near_dup", 9, 0.6), (1, "exact_dup", 7, None), (2, "near_dup", 5, 0.7),
                (2, "near_dup", 4, 0.7), (2, "near_dup", 3, 0.6), (2, "near_dup", 4, 0.7)]
        self.assertEqual(bl.stream_reduce(rows),
                         {1: ("exact_dup", 7), 2: ("near_dup", 4)})

    def test_type_families(self):
        self.assertEqual(bl.type_family("int32"), bl.type_family("int64"))
        self.assertNotEqual(bl.type_family("int64"), bl.type_family("double"))
        self.assertNotEqual(bl.type_family("decimal128(38, 0)"), bl.type_family("int64"))


if __name__ == "__main__":
    unittest.main()
