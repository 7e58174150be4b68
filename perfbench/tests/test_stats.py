"""Unit tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402


def op(name, start, end, ok=True, rnd=0, kind="row", group="g", span=0):
    return {"kind": kind, "name": name, "group": group, "round": rnd, "startNs": start,
            "endNs": end, "ok": ok, "reason": "" if ok else "boom", "span": span}


class SummaryTest(unittest.TestCase):
    def test_summary_matches_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0]
        s = stats.summary(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual((s["n"], s["median"], s["q1"], s["q3"]), (6, statistics.median(xs), q1, q3))
        self.assertEqual(stats.summary([4.0]), {"n": 1, "median": 4.0, "q1": 4.0, "q3": 4.0})
        self.assertEqual(stats.summary([])["n"], 0)

    def test_metric_line_carries_the_sample_count(self):
        line = json.loads(stats.metric_line("op_p50_ms", "ms", [3.0, 1.0, 2.0]))
        self.assertEqual((line["metric"], line["unit"], line["n"], line["median"]), ("op_p50_ms", "ms", 3, 2.0))


class SelfTimeTest(unittest.TestCase):
    def test_union_clips_and_merges_overlaps(self):
        self.assertEqual(stats.union_ns([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_ns([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(stats.union_ns([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [
            {"id": 1, "parent": 0, "layer": "bench", "startNs": 0, "endNs": 100_000_000},
            {"id": 2, "parent": 1, "layer": "analytics", "startNs": 10_000_000, "endNs": 90_000_000},
            # two overlapping jobs under the analytics span
            {"id": 3, "parent": 2, "layer": "spark.job", "startNs": 20_000_000, "endNs": 60_000_000},
            {"id": 4, "parent": 2, "layer": "spark.job", "startNs": 40_000_000, "endNs": 70_000_000},
        ]
        t = stats.self_times_ms(spans)
        self.assertAlmostEqual(t["bench"], 20.0)
        self.assertAlmostEqual(t["analytics"], 30.0)  # 80 ms minus the 50 ms the jobs cover
        self.assertAlmostEqual(t["spark.job"], 70.0)


class FailureCountingTest(unittest.TestCase):
    def test_failed_ops_count_and_stay_out_of_timings(self):
        ops = [op("a", 0, 2_000_000), op("b", 0, 1_000, ok=False), op("c", 0, 4_000_000)]
        led = stats.ledger(ops)
        self.assertEqual((led["attempted"], led["failed"]), (3, 1))
        self.assertAlmostEqual(led["fail_ratio"], 1 / 3)
        self.assertEqual(led["failures"], ["row:b"])
        # the failed op was the fastest; it must not pull the timings down
        self.assertEqual(led["durations_ms"], [2.0, 4.0])

    def test_a_round_with_a_failure_has_no_wall(self):
        ops = [op("a", 0, 1_000_000_000, rnd=0), op("a", 0, 2_000_000_000, rnd=1),
               op("b", 0, 1_000, ok=False, rnd=1)]
        rounds = [{"round": 0, "ok": True}, {"round": 1, "ok": False}]
        self.assertEqual(stats.round_walls_s(ops, rounds), [1.0])

    def test_end_to_end_uses_passing_ops_only(self):
        result = {"ops": [op("a", 0, 10_000_000), op("b", 0, 1_000, ok=False)],
                  "rounds": [{"round": 0, "ok": False}], "setup_s": 3.0, "heap_mb": [100.0, 120.0]}
        led, e2e = stats.end_to_end(result)
        self.assertEqual(led["failed"], 1)
        self.assertEqual(e2e["op_p50_ms"][1], [10.0])
        self.assertEqual(e2e["round_s"][1], [])
        self.assertEqual(e2e["live_heap_mb"][1], [120.0])


class CounterTest(unittest.TestCase):
    def test_rounds_must_repeat(self):
        result = {"rounds": [{"round": 0}, {"round": 1}],
                  "layer": {"fs.calls.open.full": [10, 10], "fs.calls.list.noop": [1, 2, 1, 3],
                            "fs.busy_ms.full": [3.5, 4.0]}}
        counters, flags = stats.deterministic_counters(result, [])
        self.assertEqual(counters["fs.calls.open.full"], [10])
        self.assertEqual(flags, ["fs.calls.list.noop"])  # busy time is not a counter

    def test_spark_counters_per_op(self):
        per_op = [{"round": r, "kind": "row", "name": "x", "jobs": 3, "stages": 4,
                   "tasks": 8 + r, "shuffle_bytes": 100} for r in (0, 1)]
        counters, flags = stats.deterministic_counters({"rounds": [{}, {}], "layer": {}}, per_op)
        self.assertEqual(counters["spark.jobs.row:x"], [3])
        self.assertEqual(flags, ["spark.tasks.row:x"])

    def test_compare_across_runs(self):
        self.assertEqual(stats.compare_counters({"a": [1], "b": [2]}, {"a": [1], "b": [3], "c": [4]}),
                         ["b"])


class SparkAttributionTest(unittest.TestCase):
    def test_stages_attach_to_the_op_of_their_trace(self):
        spans = [{"id": 10, "parent": 0, "trace": 9, "layer": "bench", "startNs": 0, "endNs": 100_000_000},
                 {"id": 11, "parent": 10, "trace": 9, "layer": "spark.job", "startNs": 0, "endNs": 0}]
        stages = [{"group": "10:9", "tasks": 4, "taskMs": 40, "gcMs": 1, "shuffleBytes": 7,
                   "spillBytes": 0, "inputBytes": 5, "peakExecBytes": 1048576,
                   "startNs": 20_000_000, "endNs": 60_000_000},
                  {"group": "99:98", "tasks": 1, "taskMs": 1, "gcMs": 0, "shuffleBytes": 0,
                   "spillBytes": 0, "inputBytes": 0, "peakExecBytes": 0, "startNs": 0, "endNs": 1}]
        per_op = stats.spark_per_op([op("q", 0, 100_000_000, span=10)], spans, stages)
        self.assertEqual(len(per_op), 1)
        a = per_op[0]
        self.assertEqual((a["jobs"], a["stages"], a["tasks"], a["shuffle_bytes"]), (1, 1, 4, 7))
        self.assertAlmostEqual(a["outside_stage_ms"], 60.0)
        self.assertAlmostEqual(a["peak_exec_mem_mb"], 1.0)


if __name__ == "__main__":
    unittest.main()
