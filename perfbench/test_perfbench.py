"""The benchmark's own tests.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
import trace  # noqa: E402


def scratch():
    os.makedirs(f"{HERE}/.work", exist_ok=True)
    return tempfile.TemporaryDirectory(dir=f"{HERE}/.work")


class StatsTest(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        values = list(range(1, 51))  # 1..50, shuffled order must not matter
        value, pct = stats.tail(values[::-1])
        self.assertEqual(value, 40)
        self.assertEqual(sum(v > value for v in values), 10)
        self.assertAlmostEqual(pct, 80.0)

    def test_tail_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11)))[0], 0)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([3.5]), 3.5)
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])

    def test_spread_matches_statistics_quantiles(self):
        vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = stats.quartiles(vals)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / q2)


class CallSiteTest(unittest.TestCase):
    def test_innermost_graft_frame_decides(self):
        site = ["org.apache.spark.sql.Dataset.head(Dataset.scala:2683)",
                "graft.dq.Checks$.keyRates(Checks.scala:40)",
                "graft.pipeline.LakehousePipeline$.run(Lakehouse.scala:90)",
                "perfbench.Medallion.pass(Workloads.scala:70)"]
        self.assertEqual(trace.graft_package(site), "dq")
        self.assertEqual(trace.graft_package(site[2:]), "pipeline")

    def test_root_package_is_the_query_registry(self):
        self.assertEqual(trace.graft_package(
            ["graft.QueriesExt$.mergeUpsert(QueriesExt.scala:740)"]),
            "queries")

    def test_harness_and_spark_threads(self):
        self.assertEqual(trace.graft_package(
            ["perfbench.Recorder$.materialise(Recorder.scala:60)",
             "graft.sql.Metrics$.avgTicket(Metrics.scala:1)"]), "bench")
        self.assertEqual(trace.graft_package(
            ["java.lang.Thread.run(Thread.java:840)"]), "spark")
        self.assertEqual(trace.graft_package([]), "spark")

    def test_stage_cover_inside_windows(self):
        merged = trace.union([(0, 10), (5, 20), (30, 40)])
        self.assertEqual(merged, [[0, 20], [30, 40]])
        self.assertEqual(trace.covered_ms(merged, [(15, 35)]), 10)
        self.assertEqual(trace.clip(merged, [(15, 35)]), [[15, 20], [30, 35]])

    def test_pass_layers_take_spark_time_from_the_listeners(self):
        # one op: a build with an eager job (stage 10-30), then an action
        # whose job (40-90) runs stages 45-60 and 70-85
        p = {"index": 1, "wall_s": 0.1, "start_ms": 0, "end_ms": 100,
             "trace": {
                 "jobs": [{"start_ms": 5, "end_ms": 30, "site": [
                           "graft.operators.Profile$.histogramDrift(P:1)"]},
                          {"start_ms": 40, "end_ms": 90, "site": [
                           "perfbench.Recorder$.materialise(R:1)"]}],
                 "stages": [{"start_ms": a, "end_ms": b, "cpu_ns": 0,
                             "shuffle_write_bytes": 0, "spill_bytes": 0,
                             "read_bytes": 0, "read_rows": 0,
                             "write_bytes": 0, "write_rows": 0}
                            for a, b in ((10, 30), (45, 60), (70, 85))],
                 "tasks": 3, "task_ms": 40,
                 "phases_ms": {"analysis": 2, "optimization": 3,
                               "planning": 1}}}
        spans = [{"pass": 1, "op": "q", "kind": k, "start_ms": a,
                  "end_ms": b, "seconds": (b - a) / 1e3}
                 for k, a, b in (("op", 0, 100), ("build", 0, 35),
                                 ("action", 35, 95))]
        d = trace.pass_layers(p, spans, slots=4)
        self.assertAlmostEqual(d["spark.stage_covered_s"], 0.050)
        self.assertAlmostEqual(d["spark.driver_gap_s"], 0.025)
        self.assertAlmostEqual(d["queries.self_s"], 0.010)
        self.assertEqual(d["queries.build_jobs"], 1)
        self.assertAlmostEqual(d["operators.job_s"], 0.025)
        self.assertAlmostEqual(d["accounted_s"], 0.081)
        self.assertAlmostEqual(d["self.bench_s"] + d["queries.self_s"]
                               + d["self.actions_s"] + d["spark.driver_gap_s"]
                               + d["spark.stage_covered_s"], 0.1)


class CheckTest(unittest.TestCase):
    def _stream_outputs(self, d, corrupt):
        events = [(1, 1_000_000, "click", 1.5), (2, 2_000_000, "view", 2.25),
                  (2, 2_000_000, "view", 2.25),  # a resend
                  (3, 3_700_000_000, "click", 4.0)]
        with open(f"{d}/events.csv", "w") as f:
            f.write("event_id,ts_us,event_type,value\n")
            f.writelines(f"{a},{b},{c},{e}\n" for a, b, c, e in events)
        n_view = 2 if not corrupt else 3
        with open(f"{d}/counts.csv", "w") as f:
            f.write("window_start_ms,event_type,n,total_value\n"
                    f"0,click,1,1.5\n0,view,{n_view},4.5\n3600000,click,1,4.0\n")
        with open(f"{d}/dedup.csv", "w") as f:
            f.write("event_id,times\n1,1\n2,1\n3,1\n")

    def test_matching_stream_outputs_pass(self):
        with scratch() as d:
            self._stream_outputs(d, corrupt=False)
            self.assertEqual(oracle.stream(d), {"stream_outputs": None})

    def test_corrupted_result_is_counted_failed(self):
        raw = {"attempted": 8, "failed": 0,
               "check": [{"op": "stream_outputs", "error": None}]}
        with scratch() as d:
            self._stream_outputs(d, corrupt=True)
            verdicts = oracle.stream(d)
        checked, attempted, failed = run.tally(raw, verdicts)
        self.assertIn("window counts differ", checked["stream_outputs"])
        self.assertEqual((attempted, failed), (9, 1))
        out = run.result(attempted, failed, {})
        self.assertIs(out["correct"], False)
        self.assertEqual((out["attempted"], out["failed"]), (9, 1))

    def test_clean_run_is_correct(self):
        raw = {"attempted": 8, "failed": 0,
               "check": [{"op": "stream_outputs", "error": None}]}
        with scratch() as d:
            self._stream_outputs(d, corrupt=False)
            _, attempted, failed = run.tally(raw, oracle.stream(d))
        self.assertIs(run.result(attempted, failed, {})["correct"], True)

    def test_corrupted_registry_result_is_counted_failed(self):
        with scratch() as d:
            gen.orders_parquet(f"{d}/tables", 3, 500)
            os.makedirs(f"{d}/res/q")
            sql = ("SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n "
                   "FROM orders GROUP BY 1")
            with open(f"{d}/res/oracle_sql.json", "w") as f:
                json.dump({"q": sql}, f)
            import duckdb
            con = duckdb.connect()
            con.execute(f"CREATE VIEW orders AS SELECT * FROM "
                        f"read_parquet('{d}/tables/orders.parquet')")
            good = con.execute(sql).df()
            good.to_parquet(f"{d}/res/q/part-0.parquet")
            self.assertEqual(oracle.registry(f"{d}/tables", f"{d}/res"),
                             {"q": None})
            good.assign(n=good["n"] + (good.index == 0)).to_parquet(
                f"{d}/res/q/part-0.parquet")
            self.assertIn("values differ",
                          oracle.registry(f"{d}/tables", f"{d}/res")["q"])

    def test_frames_compare_values_exactly(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        self.assertIsNone(oracle.compare_frames(a, a.iloc[::-1]))
        b = a.assign(v=[0.5, 0.2500001])
        self.assertIsNotNone(oracle.compare_frames(a, b))


class GeneratorTest(unittest.TestCase):
    def test_medallion_inputs_follow_the_seed(self):
        with scratch() as d:
            m1 = gen.medallion_csvs(f"{d}/a", 7, 200, today=None)
            m2 = gen.medallion_csvs(f"{d}/b", 7, 200, today=None)
            m3 = gen.medallion_csvs(f"{d}/c", 8, 200, today=None)

            def read(p):
                with open(p) as f:
                    return f.read()
            for t in ("customers", "work_orders", "parts_sales"):
                self.assertEqual(read(f"{d}/a/{t}.csv"), read(f"{d}/b/{t}.csv"))
            self.assertEqual(m1, m2)
            self.assertNotEqual(read(f"{d}/a/parts_sales.csv"),
                                read(f"{d}/c/parts_sales.csv"))
            self.assertEqual(m3["customers"]["rows"],
                             200 + m3["customers"]["duplicate_ids"])


class DescriptorTest(unittest.TestCase):
    def test_benchmark_json_matches_the_metrics_printed(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: (m["unit"], m["better"])
                          for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]],
                         list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
