"""Self-tests of the benchmark's arithmetic: python3 perfbench/test_perfbench.py"""
import math
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(layers.union([(0, 10), (5, 15), (20, 30), (22, 25)]), 25)

    def test_union_of_touching_intervals(self):
        self.assertEqual(layers.union([(0, 5), (5, 10)]), 10)

    def test_union_ignores_empty_and_reversed(self):
        self.assertEqual(layers.union([]), 0)
        self.assertEqual(layers.union([(3, 3), (9, 4), (1, 2)]), 1)

    def test_union_is_order_free(self):
        self.assertEqual(layers.union([(20, 30), (0, 10), (5, 15)]), 25)


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(layers.self_time((100, 160), []), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(layers.self_time((0, 100), [(10, 40), (30, 50), (60, 70)]), 50)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(layers.self_time((0, 100), [(-50, 20), (90, 400)]), 70)

    def test_fully_covered_span_has_no_self_time(self):
        self.assertEqual(layers.self_time((0, 10), [(0, 6), (4, 10)]), 0)


class FailureCountTest(unittest.TestCase):
    RUN = {"passes": [
        {"queries": [{"name": "q_a", "error": None}, {"name": "q_b", "error": None}]},
        {"queries": [{"name": "q_a", "error": "build: boom"}, {"name": "q_b", "error": None}]},
        {"queries": [{"name": "q_a", "error": None}, {"name": "q_b", "error": None}]},
    ]}

    def test_throws_and_mismatches_both_count(self):
        def check(k, q):
            return "rows spark=1 oracle=2" if (k, q) == (3, "q_b") else None
        attempted, failures = run.count_failures(self.RUN, check)
        self.assertEqual(attempted, 6)
        self.assertEqual([(f["pass"], f["query"]) for f in failures], [(2, "q_a"), (3, "q_b")])
        self.assertEqual(failures[0]["why"], "build: boom")
        self.assertAlmostEqual(1 - len(failures) / attempted, 4 / 6)

    def test_a_throw_is_not_checked_again(self):
        seen = []
        run.count_failures(self.RUN, lambda k, q: seen.append((k, q)))
        self.assertNotIn((2, "q_a"), seen)

    def test_all_pass(self):
        attempted, failures = run.count_failures(self.RUN | {"passes": self.RUN["passes"][:1]},
                                                 lambda k, q: None)
        self.assertEqual((attempted, failures), (2, []))


class WallTimeTest(unittest.TestCase):
    def test_sum_of_per_query_medians(self):
        def p(a, b):
            return {"queries": [{"name": "q_a", "build_s": a, "exec_s": 0.0},
                                {"name": "q_b", "build_s": 0.0, "exec_s": b}]}
        # one stall per pass: 9 s in q_a of pass 1, 9 s in q_b of pass 2
        passes = [p(10, 2), p(1, 11), p(1, 2)]
        self.assertEqual(run.query_median_sum(passes, lambda q: q["build_s"] + q["exec_s"]), 3)


class AttributionTest(unittest.TestCase):
    def site(self, *frames):
        return "\n".join(["org.apache.spark.sql.Dataset.count(Dataset.scala:1)"] + list(frames))

    def test_first_graft_frame_names_the_module(self):
        cs = self.site("graft.graph.PageRank$.run(PageRank.scala:80)",
                       "graft.relational.RelationalQueries$.$anonfun$q$1(RelationalQueries.scala:9)")
        self.assertEqual(layers.module_of(cs), "graph")

    def test_core_is_split_by_object(self):
        self.assertEqual(layers.module_of(self.site("graft.core.Prefix$.cumSums(Prefix.scala:5)")),
                         "core.Prefix")
        self.assertEqual(layers.module_of(self.site("graft.core.FanOut$.shared(FanOut.scala:7)")),
                         "core.FanOut")
        self.assertEqual(layers.module_of(self.site("graft.core.Memos$.x(Memos.scala:7)")),
                         "core.other")

    def test_spark_frames_in_graft_packages_are_skipped(self):
        cs = self.site("org.apache.spark.sql.graft.bridge$.f(bridge.scala:3)",
                       "graft.metrics.Metrics$.roc(Metrics.scala:3)")
        self.assertEqual(layers.module_of(cs), "metrics")

    def test_benchmark_frame_is_final_and_unknown_is_none(self):
        self.assertEqual(layers.module_of(self.site("perfbench.Harness$.run(Harness.scala:1)")),
                         "final")
        self.assertEqual(layers.module_of(self.site("graft.streaming.X$.f(X.scala:1)")), "other")
        self.assertIsNone(layers.module_of(self.site("java.lang.Thread.run(Thread.java:1)")))
        self.assertIsNone(layers.module_of(None))

    def test_sql_execution_call_site_is_the_fallback(self):
        job = {"callsite": self.site("java.lang.Thread.run(Thread.java:1)"), "sql": "7"}
        details = {7: self.site("graft.cluster.KMeans$.fit(KMeans.scala:2)")}
        self.assertEqual(layers.attribute(job, details), "cluster")
        self.assertEqual(layers.attribute(job, {}), "unattributed")


class LayerMetricsTest(unittest.TestCase):
    def trace(self):
        graph = "graft.graph.PageRank$.run(PageRank.scala:1)"
        final = "perfbench.Harness$.run(Harness.scala:1)"
        stage = dict(attempt=0, submitted=1, completed=2, failed=False, num_tasks=2,
                     tasks=2, useful=1, run_ms=1000, cpu_ns=5e8, gc_ms=10, delay_ms=20,
                     shuffle_write=2e6, shuffle_read=1e6, fetch_wait_ms=5, spill_disk=0,
                     spill_mem=0, input_bytes=3e6, input_records=10)
        return {
            "spans": [
                {"id": 1, "parent": 0, "kind": "pass", "name": "p2", "start": 0, "end": 10000},
                {"id": 2, "parent": 1, "kind": "query", "name": "q", "start": 0, "end": 10000},
                {"id": 3, "parent": 2, "kind": "build", "name": "q", "start": 0, "end": 6000},
                {"id": 4, "parent": 2, "kind": "exec", "name": "q", "start": 6000, "end": 10000},
            ],
            "jobs": [
                {"id": 0, "start": 1000, "end": 3000, "ok": True, "stages": [0, 1],
                 "span": "3", "sql": None, "callsite": graph},
                {"id": 1, "start": 2000, "end": 4000, "ok": True, "stages": [2],
                 "span": "3", "sql": None, "callsite": "java.lang.Thread.run(Thread.java:1)"},
                {"id": 2, "start": 7000, "end": 8000, "ok": True, "stages": [3],
                 "span": "4", "sql": None, "callsite": final},
            ],
            "stages": [dict(stage, id=0, job=0), dict(stage, id=2, job=1),
                       dict(stage, id=3, job=2)],
            "sql": [],
            "plans": [{"pass": "p2", "func": "count", "analysis_ms": 100,
                       "optimization_ms": 200, "planning_ms": 50, "ok": True},
                      {"pass": "p4", "func": "count", "analysis_ms": 900,
                       "optimization_ms": 900, "planning_ms": 900, "ok": True}],
        }

    def test_metrics_of_a_small_pass(self):
        t = self.trace()
        run_pass = {"block_peak_bytes": 5e6, "end_storage_bytes": 1e6, "end_rdds": 2}
        m = layers.layer_metrics(t, t["spans"][0], run_pass, cores=2)
        self.assertEqual(m["scheduler.job_s"], 4.0)          # [1,4] ∪ [7,8]
        self.assertEqual(m["driver.self_s"], 6.0)            # 10 s wall - 4 s
        self.assertEqual(m["driver.build_s"], 6.0)
        self.assertEqual(m["driver.exec_s"], 4.0)
        self.assertEqual(m["scheduler.stages_skipped"], 1)   # stage 1 listed, never run
        self.assertEqual(m["scheduler.tasks"], 6)
        self.assertAlmostEqual(m["scheduler.useful_task_frac"], 0.5)
        self.assertAlmostEqual(m["executor.busy_frac"], 3.0 / (4.0 * 2))
        self.assertEqual(m["op.graph.jobs"], 1)
        self.assertEqual(m["op.final.job_s"], 1.0)
        self.assertEqual(m["op.unattributed.job_s"], 2.0)
        self.assertAlmostEqual(m["op.attributed_frac"], 3.0 / 5.0)
        self.assertEqual(m["storage.peak_mb"], 5.0)
        self.assertAlmostEqual(m["driver.plan_s"], 0.35)    # pass p2's plan only
        self.assertEqual(m["driver.actions"], 1)
        names = {n for n, _ in layers.LAYER_METRICS} - {"trace.overhead_frac"}
        self.assertEqual(set(m), names)

    def test_span_self_times(self):
        t = self.trace()
        s = layers.span_self_times(t, t["spans"][0])
        self.assertEqual(s[1], 0.0)    # the query span covers the pass
        self.assertEqual(s[3], 3.0)    # build: 6 s minus jobs [1,4]
        self.assertEqual(s[4], 3.0)    # exec: 4 s minus job [7,8]


class CompareTest(unittest.TestCase):
    def test_equal_frames(self):
        a = oracle.norm(pd.DataFrame({"b": [2, 1], "a": ["x", "y"]}))
        b = oracle.norm(pd.DataFrame({"a": ["y", "x"], "b": [1, 2]}))
        self.assertIsNone(oracle.compare(a, b))

    def test_int_against_float_fails(self):
        a = pd.DataFrame({"v": [44]})
        b = pd.DataFrame({"v": [44.0]})
        self.assertIn("int-vs-float", oracle.compare(a, b))

    def test_sign_of_zero_and_nan(self):
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"v": [0.0]}), pd.DataFrame({"v": [-0.0]})))
        self.assertIsNone(oracle.compare(pd.DataFrame({"v": [math.nan]}),
                                         pd.DataFrame({"v": [math.nan]})))

    def test_last_bit_of_a_float_fails(self):
        x = 0.1 + 0.2
        self.assertIsNotNone(oracle.compare(pd.DataFrame({"v": [x]}), pd.DataFrame({"v": [0.3]})))

    def test_shape_mismatches(self):
        self.assertIn("rows", oracle.compare(pd.DataFrame({"v": [1]}), pd.DataFrame({"v": [1, 2]})))
        self.assertIn("columns", oracle.compare(pd.DataFrame({"v": [1]}), pd.DataFrame({"w": [1]})))


if __name__ == "__main__":
    unittest.main()
