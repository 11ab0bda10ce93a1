"""Tests of the benchmark's arithmetic: python3 -m unittest discover -s perfbench"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two jobs of Jobs.inParallel overlap on [20, 30]
        self.assertEqual(metrics.union_ms([(10, 30), (20, 40)]), 30)

    def test_nested_and_disjoint(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (200, 210)]), 110)

    def test_clipped_to_span(self):
        self.assertEqual(metrics.union_ms([(-5, 5), (95, 120)], 0, 100), 10)

    def test_empty_and_degenerate(self):
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(5, 5), (7, 6)]), 0)

    def test_driver_time_never_negative(self):
        # jobs cover more than the span, and overlap each other
        jobs = [(0, 60), (10, 70), (40, 200)]
        self.assertEqual(metrics.self_ms(20, 100, jobs), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_duration_minus_child_cover(self):
        self.assertEqual(metrics.self_ms(0, 100, [(10, 30), (20, 50), (80, 90)]), 50)

    def test_no_children(self):
        self.assertEqual(metrics.self_ms(3, 10, []), 7)


class CallSiteTest(unittest.TestCase):
    SITE = "\n".join([
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3000)",
        "graft.perfbench.Queries.$anonfun$pass$1(Workloads.scala:88)",
        "graft.ml.Als$.$anonfun$crossValidatePerUser$2(Als.scala:127)",
        "scala.collection.immutable.List.map(List.scala:250)",
        "graft.ml.Pipeline$.train(Pipeline.scala:52)",
    ])

    def test_innermost_graft_frame_skipping_bench(self):
        self.assertEqual(metrics.call_site(self.SITE), ("ml", "Als.crossValidatePerUser"))

    def test_modules(self):
        cases = {
            "graft.SparkEntry$.$anonfun$queries$12(SparkEntry.scala:900)":
                ("SparkEntry", "SparkEntry.queries"),
            "graft.Sessions$.sweep(Sessions.scala:100)": ("SparkEntry", "Sessions.sweep"),
            "graft.sources.Tables$.writeParquet(Tables.scala:91)": ("sources", "Tables.writeParquet"),
            "graft.operators.Graph$.pagerank(Graph.scala:10)": ("operators", "Graph.pagerank"),
            "graft.llm.Retrieval$.$anonfun$appendToLexIndex$1(Retrieval.scala:290)":
                ("llm", "Retrieval.appendToLexIndex"),
            "graft.streaming.CurationStream$.processBatch(CurationStream.scala:300)":
                ("streaming", "CurationStream.processBatch"),
            "graft.functions.VectorExprs.eval(VectorExprs.scala:1)": ("functions", "VectorExprs.eval"),
        }
        for line, want in cases.items():
            self.assertEqual(metrics.frame_site(line), want, line)

    def test_skipped_and_foreign_frames(self):
        for line in ("graft.tools.Profile$.main(Profile.scala:1)",
                     "graft.perfbench.Main$.main(Main.scala:1)",
                     "org.apache.spark.sql.graft.Bridge$.x(Bridge.scala:1)",
                     "java.lang.Thread.run(Thread.java:840)", "<unknown>", ""):
            self.assertIsNone(metrics.frame_site(line), line)
        self.assertIsNone(metrics.call_site("graft.tools.X$.y(X.scala:1)\njava.lang.Thread.run(T.java:1)"))


class NameTest(unittest.TestCase):
    def test_metric_names(self):
        for good in ("setup_s", "driver.plan_ms", "SparkEntry.jobs", "exec.busy_share", "0x"):
            self.assertTrue(metrics.valid_name(good), good)
        for bad in ("", "_x", ".x", "a b", "a/b", "a" * 65, "span:x"):
            self.assertFalse(metrics.valid_name(bad), bad)

    def test_units(self):
        for good in ("ms", "s", "1/s", "count", "%", "MB", "bytes", "ratio"):
            self.assertTrue(metrics.valid_unit(good), good)
        self.assertFalse(metrics.valid_unit("m s"))
        self.assertFalse(metrics.valid_unit("a" * 17))

    def test_benchmark_file_and_emitted_metrics(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        declared = bench["end_to_end"] + bench["per_layer"]
        for m in declared:
            self.assertTrue(metrics.valid_name(m["name"]), m["name"])
            self.assertTrue(metrics.valid_unit(m["unit"]), m["unit"])
        self.assertEqual(len({m["name"] for m in declared}), len(declared))
        raw = synthetic_run()
        e2e, _ = metrics.end_to_end(raw)
        self.assertEqual({k: u for k, (_, u) in e2e.items()},
                         {m["name"]: m["unit"] for m in bench["end_to_end"]})
        layer = metrics.per_layer(raw)
        self.assertEqual({k: u for k, (_, u) in layer.items()},
                         {m["name"]: m["unit"] for m in bench["per_layer"]})


def synthetic_run():
    """A two-pass traced run: one plain pass, one traced pass with two
    overlapping jobs inside one query."""
    spans = [
        {"id": 1, "parent": 0, "name": "q1", "kind": "query", "module": "SparkEntry",
         "start": 0.0, "end": 100.0, "ok": True},
        {"id": 0, "parent": -1, "name": "pass 0", "kind": "pass", "module": "bench",
         "start": 0.0, "end": 110.0, "ok": True},
        {"id": 3, "parent": 2, "name": "q1", "kind": "query", "module": "SparkEntry",
         "start": 200.0, "end": 320.0, "ok": True},
        {"id": 2, "parent": -1, "name": "pass 1", "kind": "pass", "module": "bench",
         "start": 200.0, "end": 330.0, "ok": True},
    ]
    jobs = [
        {"id": 0, "start": 210, "end": 260, "sql": None,
         "callsite": "graft.llm.Dedup$.minHash(Dedup.scala:1)"},
        {"id": 1, "start": 240, "end": 300, "sql": "4",
         "callsite": "graft.perfbench.Queries.run(Workloads.scala:1)"},
    ]
    stage = {"id": 0, "tasks": 1, "submitted": 211, "completed": 251, "run_ms": 160,
             "cpu_ns": 1.2e8, "gc_ms": 3, "shuffle_read_bytes": 10, "shuffle_write_bytes": 10,
             "spill_bytes": 0, "input_bytes": 100, "output_bytes": 0}
    return {
        "op_kind": "query", "cores": 4, "jvm_start": -4000.0, "setup_s": [3.0, 2.0, 2.5], "shared_ms": [5.0, 4.0, 6.0],
        "warm_ms": [900.0, 700.0], "heap_live_mb": 100.0, "input_bytes": 1000,
        "passes": [
            {"start": 0.0, "end": 110.0, "traced": False, "store_files": 0, "store_bytes": 0},
            {"start": 200.0, "end": 330.0, "traced": True, "store_files": 2, "store_bytes": 50},
        ],
        "spans": spans,
        "probe": {"jobs": jobs, "stages": [stage],
                  "executions": [{"name": "collect", "start": 205, "plan_ms": 4}],
                  "sql_callsites": {"4": "graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:1)"},
                  "blocks": [{"time": 250, "bytes": 64}]},
    }


class SummaryTest(unittest.TestCase):
    def test_per_layer_from_synthetic_run(self):
        m = metrics.per_layer(synthetic_run())
        self.assertEqual(m["driver.jobs"][0], 1 + 1)
        self.assertEqual(m["driver.ms"][0], 120 - 90)
        self.assertEqual(m["llm.jobs"][0], 1)
        # the second job has only benchmark frames: its SQL execution's
        # call site names the module
        self.assertEqual(m["SparkEntry.jobs"][0], 1)
        self.assertAlmostEqual(m["llm.job_share"][0], 100.0 * 50 / 110)
        self.assertEqual(m["exec.serial_stage_ms"][0], 40)
        self.assertAlmostEqual(m["exec.busy_share"][0], 160 / (120 * 4))
        self.assertEqual(m["trace.overhead_ms"][0], 20)
        self.assertEqual(m["span.op_self_ms"][0], 30)
        self.assertEqual(m["store.bytes_per_input_byte"][0], 0.05)
        self.assertEqual(m["setup.first_s"][0], 4.0)

    def test_end_to_end_from_synthetic_run(self):
        m, notes = metrics.end_to_end(synthetic_run())
        # only the untraced pass counts, and only its calls
        self.assertEqual(m["pass_s"][0], 0.1)
        self.assertEqual(m["op_p50_ms"][0], 100.0)
        self.assertEqual(m["setup_s"][0], 2.5)
        self.assertEqual(notes["passes"], 1)


if __name__ == "__main__":
    unittest.main()
