"""Metric emission and failure accounting, on a synthetic run record."""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from benchlib import check, report  # noqa: E402

with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def op(oid, ms, segment="block", error=None):
    return {"id": oid, "unit": 0, "segment": segment, "ms": ms, "error": error}


def region(ops, traced):
    listener = dict.fromkeys(
        ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns", "task_gc_ms",
         "spill_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
         "analysis_ms", "optimization_ms", "planning_ms", "connector_rows", "batches",
         "trigger_ms", "add_batch_ms", "query_planning_ms", "offset_ms", "commit_ms",
         "state_rows", "state_commit_ms"], 7) if traced else {}
    return {"traced": traced, "wall_ms": sum(o["ms"] for o in ops) + 5, "units": 1,
            "ops": ops, "segments": [{"unit": 0, "tag": "block", "ms": 1.0}],
            "connector": {"scans": 3, "retries": 1, "cache_hits": 2, "cache_misses": 3,
                          "api_wait_ns": 5e6},
            "stream_input_rows": 0, "cache_weight_rows": 9, "listener": listener,
            "storage_bytes": 1 << 20, "cached_rdds": 1}


def synthetic_run():
    ops = [op("q_a", 100.0 + i) for i in range(10)] + [op("q_b", 50.0)]
    setup = {"session_ms": 1000.0, "graft_init_ms": 10.0, "touch_ms": 5.0,
             "builds_ms": {"warmVecs": 200.0}, "total_ms": 1300.0}
    return {
        "setups": [setup, dict(setup, total_ms=1100.0), dict(setup, total_ms=1200.0)],
        "warmup": [{"id": "q_a", "ms": 1.0, "error": None, "dumped": True},
                   {"id": "q_b", "ms": 1.0, "error": None, "dumped": True}],
        "check": [],
        "regions": [region(list(ops), False), region(list(ops), True), region(list(ops), False)],
        "probes": {"kernels_ns_per_row": dict.fromkeys(report.KERNELS, 12.5),
                   "connector_scan_ns_per_row": 80.0},
        "oracles": {}, "env": {},
    }


SPANS = [
    {"trace": 0, "id": 1, "parent": 0, "name": "workload w", "start_ms": 0, "end_ms": 200},
    {"trace": 2, "id": 3, "parent": 1, "name": "op q_a", "start_ms": 0, "end_ms": 100},
    {"trace": 2, "id": 4, "parent": 3, "name": "build", "start_ms": 0, "end_ms": 20},
    {"trace": 2, "id": 5, "parent": 3, "name": "execute", "start_ms": 20, "end_ms": 100},
    {"trace": 2, "id": 6, "parent": 3, "name": "planning", "start_ms": 20, "end_ms": 30},
    {"trace": 2, "id": 7, "parent": 3, "name": "job 0", "start_ms": 35, "end_ms": 95},
    {"trace": 2, "id": 8, "parent": 3, "name": "stage 0", "start_ms": 40, "end_ms": 90},
    {"trace": 9, "id": 10, "parent": 1, "name": "op q_b", "start_ms": 100, "end_ms": 200},
    {"trace": 9, "id": 11, "parent": 10, "name": "execute", "start_ms": 100, "end_ms": 200},
    {"trace": 9, "id": 12, "parent": 10, "name": "microbatch", "start_ms": 150, "end_ms": 250},
]


class MetricsTest(unittest.TestCase):
    def test_benchmark_json_names_every_metric_with_its_unit(self):
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["end_to_end"]},
                         report.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in BENCH["per_layer"]},
                         report.PER_LAYER)

    def test_end_to_end_block(self):
        m = report.metric_block(report.end_to_end(synthetic_run(), set()), report.END_TO_END)
        self.assertEqual(set(m), set(report.END_TO_END))
        for name, v in m.items():
            self.assertEqual(v["unit"], report.END_TO_END[name])
            self.assertGreater(v["value"], 0, name)
        self.assertEqual(m["setup_s"]["value"], 1.2)

    def test_per_layer_block(self):
        values = report.per_layer(synthetic_run(), SPANS, 4, set())
        m = report.metric_block(values, report.PER_LAYER)
        self.assertEqual(set(m), set(report.PER_LAYER))
        for name, v in m.items():
            self.assertEqual(v["unit"], report.PER_LAYER[name])
            self.assertIsInstance(v["value"], float)
        self.assertEqual(m["opcache.build_ms.vecs"]["value"], 200.0)
        # q_a: build, planning and the job leave 35-30 and 95-100 uncovered;
        # q_b: only the micro-batch's first half lies inside the op
        self.assertAlmostEqual(m["trace.child_coverage_pct"]["value"], 70.0)
        self.assertAlmostEqual(m["trace.child_coverage_min_pct"]["value"], 50.0)

    def test_execute_span_does_not_count_as_coverage(self):
        spans = [s for s in SPANS if s["name"] in ("op q_b", "execute") and s["trace"] == 9]
        self.assertEqual(report.child_coverage(spans)[:2], (0.0, 0.0))

    def test_events_per_s_counts_replayed_input_rows(self):
        run = synthetic_run()
        run["regions"][0]["stream_input_rows"] = 5000
        summary = report.workload_summary(run, "stream_replay", set(), 11, 0)
        wall_s = run["regions"][0]["wall_ms"] / 1000.0
        self.assertAlmostEqual(summary["events_per_s"][0], 5000 / wall_s)
        # the first set-up of the fresh JVM is reported next to the median
        self.assertEqual(summary["setup_cold_s"], (1.3, "s"))

    def test_percentile_is_harrell_davis(self):
        self.assertAlmostEqual(report.percentile([5.0] * 7, 0.5), 5.0)
        xs = list(range(1, 102))
        self.assertAlmostEqual(report.percentile(xs, 0.5), 51.0)
        self.assertAlmostEqual(report.percentile(xs, 0.9), 91.4, places=3)
        # one outlier moves it a little, not by a whole rank gap
        self.assertLess(report.percentile([1, 2, 3, 4, 100], 0.5), 10)

    def test_failed_ops_left_out_of_latency(self):
        run = synthetic_run()
        run["regions"][0]["ops"].append(op("q_c", 99999.0, error="boom"))
        m = report.end_to_end(run, {"q_c"})
        self.assertLess(m["op_p90_ms"], 1000)


class AccountingTest(unittest.TestCase):
    def test_corrupted_fingerprint_is_a_failed_operation(self):
        run = synthetic_run()
        fp = check.fingerprint(["x"], [(1,)])
        got = {"q_a": fp, "q_b": fp}
        stored = {"q_a": fp, "q_b": dict(fp, hash="0" * 16)}
        ops = {"q_a": {"kind": "entry", "name": "q_a"}, "q_b": {"kind": "entry", "name": "q_b"}}
        checks = check.check_outputs(["q_a", "q_b"], ops, got, {}, {}, stored, None)
        attempted, failed, bad, errors = check.account(run, checks)
        self.assertEqual(bad, {"q_b"})
        self.assertEqual(attempted, 33)
        self.assertEqual(failed, 3)  # q_b ran once in each of the three regions
        self.assertEqual(errors, {})

    def test_thrown_operation_is_failed_and_a_retry_is_not(self):
        run = synthetic_run()
        run["regions"][0]["ops"].append(op("q_c", 5.0, error="boom"))
        attempted, failed, bad, errors = check.account(run, {})
        self.assertEqual((attempted, failed), (34, 1))
        self.assertEqual(errors, {"q_c": "boom"})
        # the synthetic region reports a connector retry; it is not a failure
        self.assertEqual(run["regions"][0]["connector"]["retries"], 1)


if __name__ == "__main__":
    unittest.main()
