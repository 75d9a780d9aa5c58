"""The benchmark's own tests, on synthetic records.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import reduce  # noqa: E402

NAN = float("nan")


def op(kind, start, end, due=NAN, dispatch=NAN, error=None, wrong=False,
       traced=False, label="", jobs=1, tasks=4):
    return {"kind": kind, "label": label, "due": due, "dispatch": dispatch,
            "start": start, "end": end, "jobs": jobs, "stages": jobs,
            "tasks": tasks, "error": error, "wrong": wrong, "traced": traced}


def record(ops=(), checks=(), trace=False, spans=(), jobs=(), stages=(),
           tasks=(), samples=None, workload="lakehouse"):
    return {"workload": workload, "seed": 7, "trace": trace, "nproc": 4,
            "seconds": 10.0,
            "setup": {"session_s": 5.0, "setup_s": 21.0},
            "ops": list(ops), "checks": list(checks),
            "samples": samples or {},
            "values": {"space_amp": 1.5, "catalog_files": 10, "live_bytes": 99},
            "peak_rss_kb": 2048 * 1024, "spans": list(spans),
            "jobs": list(jobs), "stages": list(stages), "tasks": list(tasks)}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(reduce.tail_percentile(39))
        self.assertEqual(reduce.tail_percentile(40), 75)
        self.assertEqual(reduce.tail_percentile(99), 75)
        self.assertEqual(reduce.tail_percentile(100), 90)
        self.assertEqual(reduce.tail_percentile(1000), 99)

    def test_p95_refused_below_200_samples(self):
        self.assertEqual(reduce.tail_percentile(199), 90)
        self.assertEqual(reduce.tail_percentile(200), 95)
        self.assertEqual(reduce.beyond(200, 95), 10)
        self.assertEqual(reduce.beyond(199, 95), 9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(reduce.percentile(xs, 50), 50)
        self.assertEqual(reduce.percentile(xs, 90), 90)
        self.assertEqual(reduce.percentile([3.0], 95), 3.0)

    def test_tail_reported_only_with_enough_samples(self):
        few = reduce.reduce(record([op("read", 0, 5)] * 39))
        self.assertEqual(few["latencies"]["read"], (39, 5, None, None))
        many = reduce.reduce(record([op("read", 0, i) for i in range(1, 41)]))
        self.assertEqual(many["latencies"]["read"], (40, 20.5, 75, 30))


class JobIntervals(unittest.TestCase):
    def test_union_merges_overlaps_and_gaps(self):
        self.assertEqual(reduce.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(reduce.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(reduce.union_length([]), 0)

    def test_union_clips_to_the_span(self):
        self.assertEqual(reduce.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(reduce.union_length([(11, 12)], 0, 10), 0)

    def test_unfinished_jobs_are_ignored(self):
        self.assertEqual(reduce.union_length([(0, None), (1, 2)]), 1)

    def test_driver_only_time_of_a_span(self):
        spans = [{"id": 1, "parent": 0, "name": "GovernedStream.commitBatch",
                  "start": 0.0, "end": 100.0, "run": "r"}]
        jobs = [{"id": 0, "start": 10.0, "end": 30.0, "span": 1, "desc": "", "stages": []},
                {"id": 1, "start": 20.0, "end": 40.0, "span": 1, "desc": "", "stages": []},
                {"id": 2, "start": 90.0, "end": 120.0, "span": 1, "desc": "", "stages": []}]
        t = reduce.Trace(record(trace=True, spans=spans, jobs=jobs))
        s = spans[0]
        self.assertEqual(t.in_job_ms(s), 40.0)
        self.assertEqual(t.driver_only_ms(s), 60.0)

    def test_child_span_jobs_count_for_the_parent(self):
        spans = [{"id": 1, "parent": 0, "name": "write", "start": 0.0, "end": 50.0, "run": "r"},
                 {"id": 2, "parent": 1, "name": "GovernedStream.commitBatch",
                  "start": 5.0, "end": 45.0, "run": "r"}]
        jobs = [{"id": 0, "start": 10.0, "end": 20.0, "span": 2, "desc": "", "stages": []},
                {"id": 1, "start": 30.0, "end": 35.0, "span": 1, "desc": "", "stages": []}]
        t = reduce.Trace(record(trace=True, spans=spans, jobs=jobs))
        self.assertEqual(len(t.span_jobs(spans[0])), 2)
        self.assertEqual(len(t.span_jobs(spans[1])), 1)
        self.assertEqual(t.in_job_ms(spans[0]), 15.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_covered_part(self):
        parent = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 30.0}, {"start": 20.0, "end": 50.0},
                {"start": 90.0, "end": 130.0}]
        self.assertEqual(reduce.self_time(parent, kids), 50.0)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(reduce.self_time({"start": 3.0, "end": 7.5}, []), 4.5)


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_the_due_time(self):
        o = op("read", start=130.0, end=150.0, due=100.0, dispatch=101.0)
        self.assertEqual(reduce.latency(o), 50.0)
        self.assertEqual(reduce.queue_wait(o), 30.0)
        self.assertEqual(reduce.generator_late(o), 1.0)

    def test_closed_loop_latency_runs_from_the_start(self):
        o = op("write", start=10.0, end=25.0)
        self.assertEqual(reduce.latency(o), 15.0)
        self.assertEqual(reduce.queue_wait(o), 0.0)
        self.assertTrue(math.isnan(reduce.generator_late(o)))

    def test_a_stall_delays_the_queries_queued_behind_it(self):
        # one worker, queries due every 10 ms, the first one takes 35 ms
        ops = [op("read", 0, 35, due=0, dispatch=0),
               op("read", 35, 40, due=10, dispatch=10),
               op("read", 40, 45, due=20, dispatch=20)]
        self.assertEqual([reduce.latency(o) for o in ops], [35, 30, 25])
        self.assertEqual(reduce.latencies(record(ops))["read"][1], 30)

    def test_generator_lateness_is_reported(self):
        ops = [op("read", 5, 9, due=0, dispatch=2, traced=True),
               op("read", 12, 14, due=10, dispatch=14, traced=False)]
        m = reduce.per_layer(record(ops, trace=True))
        self.assertEqual(m["load.generator_late_ms"], 3.0)
        self.assertEqual(m["load.queue_wait_ms"], 3.5)


class FailureCounting(unittest.TestCase):
    def test_errors_wrong_answers_and_failed_checks_count(self):
        ops = [op("write", 0, 1), op("write", 1, 2, error="boom"),
               op("read", 2, 3, wrong=True), op("read", 3, 4)]
        checks = [{"name": "a", "ok": True, "detail": ""},
                  {"name": "b", "ok": False, "detail": "differs"}]
        r = reduce.reduce(record(ops, checks))
        self.assertEqual((r["attempted"], r["failed"]), (6, 3))
        line = reduce.contract_line(r)
        self.assertFalse(line["correct"])
        self.assertEqual(line["attempted"], 6)

    def test_failed_operations_are_excluded_from_costs(self):
        ops = [op("write", 0, 10, jobs=4), op("write", 0, 1000, error="boom", jobs=40),
               op("write", 0, 20, jobs=6)]
        self.assertEqual(reduce.end_to_end(record(ops))["write_jobs"], 5)
        self.assertEqual(reduce.latencies(record(ops))["write"][1], 15)

    def test_clean_run_is_correct(self):
        r = reduce.reduce(record([op("write", 0, 1)],
                                 [{"name": "a", "ok": True, "detail": ""}]))
        line = reduce.contract_line(r)
        self.assertTrue(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (2, 0))


class Output(unittest.TestCase):
    def test_untraced_run_reports_every_end_to_end_metric(self):
        r = reduce.reduce(record([op("write", 0, 1), op("refresh", 1, 3),
                                  op("read", 3, 4)]))
        line = reduce.contract_line(r)
        self.assertEqual(set(line["metrics"]), {m[0] for m in reduce.END_TO_END})
        # session start plus the workload's set-up
        self.assertEqual(line["metrics"]["setup_s"]["value"], 26.0)
        self.assertEqual(line["metrics"]["peak_rss_mb"]["unit"], "MB")

    def test_work_per_operation_is_the_mean_per_kind(self):
        m = reduce.end_to_end(record([
            op("read", 0, 5, jobs=1, tasks=1), op("read", 1, 6, jobs=3, tasks=9),
            op("refresh", 6, 9, jobs=61, tasks=98)]))
        self.assertEqual((m["read_jobs"], m["read_tasks"]), (2, 5))
        self.assertEqual((m["refresh_jobs"], m["refresh_tasks"]), (61, 98))
        self.assertEqual(m["write_jobs"], 0.0)

    def test_traced_run_reports_every_per_layer_metric(self):
        r = reduce.reduce(record([op("read", 0, 9, traced=True),
                                  op("read", 9, 11), op("read", 11, 14, traced=True),
                                  op("read", 14, 16)], trace=True))
        line = reduce.contract_line(r)
        self.assertEqual(set(line["metrics"]), {m[0] for m in reduce.PER_LAYER})
        # the cold first operation is left out: 3 ms traced vs 2 ms plain
        self.assertEqual(line["metrics"]["trace.overhead"]["value"], 1.5)

    def test_trace_overhead_compares_like_queries(self):
        ops = [op("read", 0, 1, traced=True, label="a"),
               op("read", 0, 10, label="b"), op("read", 0, 2, traced=True, label="a"),
               op("read", 0, 20, traced=True, label="b"), op("read", 0, 1, label="a")]
        # a: 2 / 1, b: 20 / 10 -- not the 2-vs-10 a pooled median would give
        self.assertEqual(reduce.per_layer(record(ops, trace=True))["trace.overhead"], 2.0)


if __name__ == "__main__":
    unittest.main()
