"""Tests of the benchmark itself: its arithmetic (percentiles, tail, self
time, tracing overhead, per-layer attribution) and, through the JVM self
test, the determinism of the generators and that every output check
rejects a perturbed expected value.

    python3 perfbench/test_perfbench.py
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(stats.median([]), 0.0)

    def test_percentile_interpolates_like_statistics_quantiles(self):
        import statistics
        xs = [5, 1, 9, 3, 7, 2, 8]
        deciles = statistics.quantiles(xs, n=10, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 90), deciles[-1])
        self.assertAlmostEqual(stats.percentile(xs, 50), statistics.median(xs))
        self.assertEqual(stats.percentile(xs, 100), 9)
        self.assertEqual(stats.percentile([4], 90), 4)

    def test_tail_percentile_does_not_depend_on_the_op_count(self):
        for n in (8, 10, 11, 15, 20, 30):
            xs = list(range(1, n + 1))
            value, pct, beyond = stats.tail(xs)
            self.assertEqual(pct, 90.0, n)
            self.assertAlmostEqual(value, 1 + 0.9 * (n - 1), msg=n)
            self.assertGreaterEqual(value, stats.median(xs), n)
            self.assertEqual(beyond, sum(x > value for x in xs), n)

    def test_tail_at_11_and_15_samples_stays_near_the_top(self):
        # a rank chosen from the op count would fall below the median here
        self.assertAlmostEqual(stats.tail(list(range(1, 12)))[0], 10.0)
        self.assertAlmostEqual(stats.tail(list(range(1, 16)))[0], 13.6)
        self.assertEqual(stats.tail(list(range(1, 16)))[2], 2)

    def test_tail_has_ten_samples_beyond_at_100_ops(self):
        xs = list(range(1, 101))
        value, _, beyond = stats.tail(xs)
        self.assertAlmostEqual(value, 90.1)
        self.assertEqual(beyond, 10)

    def test_tail_of_no_samples(self):
        self.assertEqual(stats.tail([]), (0.0, 90.0, 0))

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 100},
            {"id": 1, "parent": 0, "start_ns": 10, "end_ns": 30},
            {"id": 2, "parent": 0, "start_ns": 20, "end_ns": 50},  # overlaps span 1
            {"id": 3, "parent": 0, "start_ns": 70, "end_ns": 80},
            {"id": 4, "parent": 3, "start_ns": 72, "end_ns": 75},
        ]
        self.assertEqual(stats.self_times(spans), {0: 50, 1: 20, 2: 30, 3: 7, 4: 3})

    def test_tracing_overhead(self):
        self.assertAlmostEqual(stats.tracing_overhead([1.2, 1.3, 1.4], [1.0, 1.1, 1.2]), 0.2)


def fake_result():
    ops = [{"i": i, "phase": ph, "kind": "batch", "latency_s": lat, "rows": 100, "ok": ok,
            "error": ""}
           for i, (ph, lat, ok) in enumerate([("warmup", 9.0, True), ("untraced", 2.0, True),
                                              ("untraced", 4.0, False), ("traced", 3.0, True)])]
    return {
        "ops": ops, "session_s": 1.0, "setup_s": [5.0, 2.0, 3.0],
        "heap_mb": [{"phase": "untraced", "mb": 10.0}, {"phase": "untraced", "mb": 30.0},
                    {"phase": "traced", "mb": 99.0}],
        "counters": {"input_bytes": 50.0, "bytes_written": 200.0, "merge.files_live": 7.0},
        "info": {"live_bytes": 100, "distinct_bytes": 250},
        "clock": {"wall_ms": 1000, "nano": 0},
    }


class ReportTest(unittest.TestCase):
    def test_end_to_end(self):
        m, tail = report.end_to_end(fake_result())
        self.assertEqual(m["setup_s"], 1.0 + 3.0)  # session + median set-up
        self.assertEqual(m["op_p50_s"], 3.0)
        self.assertAlmostEqual(m["op_tail_s"], 3.8)  # p90 of [2, 4]
        self.assertEqual(m["ops_per_s"], 2 / 6.0)
        self.assertEqual(m["rows_per_s"], 200 / 6.0)
        self.assertEqual(m["heap_peak_mb"], 30.0)
        self.assertEqual(m["failed_frac"], 0.5)
        self.assertEqual(m["write_amp"], 4.0)
        self.assertEqual(m["space_amp"], 2.5)
        self.assertEqual(tail, {"op_tail_percentile": 90.0, "op_tail_samples_beyond": 1,
                                "ops": 2})

    def test_call_site_layer(self):
        self.assertEqual(report.call_site_layer("parquet at TableMerge.scala:791"), "merge")
        self.assertEqual(report.call_site_layer("count at SilverPipeline.scala:196"), "silver")
        self.assertEqual(report.call_site_layer("collect at DedupQueries.scala:12"), "queries")
        self.assertEqual(report.call_site_layer("run at CompletableFuture.java:1768"), "spark")

    def test_per_layer_attribution(self):
        r = fake_result()
        # one traced op (span 0, 0..2 s) holding a silver span with two jobs
        spans = [
            {"id": 0, "parent": -1, "op": 3, "name": "op", "layer": "op", "start_ns": 0,
             "end_ns": 2_000_000_000, "attrs": {"bronze_rows": 100.0, "changed_rows": 25.0}},
            {"id": 1, "parent": 0, "op": 3, "name": "silver.run", "layer": "silver",
             "start_ns": 100_000_000, "end_ns": 1_500_000_000, "attrs": {}},
        ]
        job = {"stages": 2, "tasks": 4, "failed_tasks": 0, "cpu_ns": 10**9, "gc_ms": 100,
               "input_bytes": 10, "output_bytes": 20, "shuffle_read_bytes": 30,
               "shuffle_write_bytes": 40, "spill_bytes": 0, "peak_exec_mem_bytes": 64,
               "task_wait_ms": 50}
        jobs = [dict(job, job=0, span=1, call_site="parquet at TableMerge.scala:1",
                     start_ms=1200, end_ms=1700),
                dict(job, job=1, span=1, call_site="count at SilverPipeline.scala:2",
                     start_ms=1500, end_ms=2000)]
        m = report.per_layer(r, spans, jobs)
        self.assertEqual(set(m), set(report.PER_LAYER))
        self.assertEqual(m["spark.jobs"], 2)
        self.assertEqual(m["spark.job_s"], 1.0)
        # op covers wall 1000..3000 ms, jobs cover 1200..2000: 1.2 s without a job
        self.assertAlmostEqual(m["spark.driver_gap_s"], 1.2)
        self.assertEqual(m["merge.jobs"], 1)
        self.assertEqual(m["silver.jobs"], 2)
        self.assertAlmostEqual(m["silver.run_s"], 1.4)
        self.assertAlmostEqual(m["silver.self_s"], 1.4)
        self.assertEqual(m["silver.changed_frac"], 0.25)
        self.assertEqual(m["spark.peak_exec_mem_bytes"], 64)
        self.assertEqual(m["merge.files_live"], 7.0)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.0)  # traced 3.0 vs untraced median 3.0


class JvmSelfTest(unittest.TestCase):
    def test_generators_and_checks(self):
        cp = build.build()
        out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.SelfTest",
                              os.path.join(HERE, "sf01_shapes.json")],
                             capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr)
        self.assertNotIn("FAIL", out.stdout)
        self.assertIn("PASS", out.stdout)


if __name__ == "__main__":
    unittest.main()
