"""Tests of the benchmark's own accounting. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import run  # noqa: E402
import stats  # noqa: E402


def step(kind, name, s, ok=True):
    return {"kind": kind, "name": name, "s": s, "ok": ok,
            "error": None if ok else "boom"}


def job(steps, ok=None, i=0, mode="plain"):
    if ok is None:
        ok = all(s["ok"] for s in steps)
    return {"kind": "job", "job": i, "mode": mode, "ok": ok, "errors": [],
            "steps": steps, "extras": {}}


def span(i, parent, name, start, end, **kw):
    d = {"kind": "span", "job": 1, "id": i, "parent": parent, "name": name,
         "start_ns": int(start * 1e9), "end_ns": int(end * 1e9), "jobs": 0,
         "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
         "shuffle_write_records": 0, "spill_bytes": 0, "output_bytes": 0,
         "notes": {}}
    d.update(kw)
    return d


class FailureAccounting(unittest.TestCase):
    def test_throwing_job_is_failed_and_not_a_sample(self):
        jobs = [job([step("job", "wordcount", 1.0)]),
                job([step("job", "wordcount", 0.1, ok=False)]),
                job([step("job", "wordcount", 3.0)])]
        acc = stats.accounting("wordcount", jobs)
        self.assertEqual((acc["attempted"], acc["failed"]), (3, 1))
        self.assertEqual(acc["job_s"], [1.0, 3.0])
        self.assertEqual(acc["step_s"], [1.0, 3.0])

    def test_failed_check_voids_the_job_even_when_steps_passed(self):
        jobs = [job([step("batch", "batch0", 2.0), step("read", "read0", 0.5)],
                    ok=False),
                job([step("batch", "batch0", 4.0), step("read", "read0", 0.5)])]
        acc = stats.accounting("xling_stream", jobs)
        self.assertEqual((acc["attempted"], acc["failed"]), (2, 1))
        self.assertEqual(acc["job_s"], [4.5])
        self.assertEqual(acc["step_s"], [4.0])
        self.assertEqual(acc["steps"]["read"], [0.5])

    def test_a_failed_query_fails_alone_but_voids_its_pass(self):
        jobs = [job([step("query", "q1", 0.2), step("query", "q2", 0.05, ok=False)]),
                job([step("query", "q2", 0.3), step("query", "q1", 0.1)])]
        acc = stats.accounting("catalog_floor", jobs)
        self.assertEqual((acc["attempted"], acc["failed"]), (4, 1))
        self.assertEqual(sorted(acc["step_s"]), [0.1, 0.2, 0.3])
        self.assertEqual(acc["job_s"], [0.4])

    def test_oracle_mismatch_fails_every_run_of_the_query(self):
        jobs = [job([step("query", "q1", 0.2), step("query", "q2", 0.3)]),
                job([step("query", "q2", 0.3), step("query", "q1", 0.1)])]
        acc = stats.accounting("catalog_floor", jobs, bad_ops={"q2"})
        self.assertEqual((acc["attempted"], acc["failed"]), (4, 2))
        self.assertEqual(sorted(acc["step_s"]), [0.1, 0.2])
        self.assertEqual(acc["job_s"], [])


class Percentiles(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))
        self.assertEqual(stats.tail(list(range(1, 40)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(stats.tail(list(range(1, 10001))), (99.9, 9990))

    def test_summary_reports_median_and_count(self):
        s = stats.summary([5.0, 1.0, 3.0, 2.0])
        self.assertEqual((s["p50"], s["n"], s["tail"]), (2.5, 4, None))
        self.assertEqual(stats.summary([])["p50"], None)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(0, -1, "a", 0, 10), span(1, 0, "b", 2, 5),
                 span(2, 1, "c", 3, 4), span(3, -1, "d", 10, 12)]
        st = stats.self_times(spans)
        for i, want in {0: 7.0, 1: 2.0, 2: 1.0, 3: 2.0}.items():
            self.assertAlmostEqual(st[i], want)
        self.assertAlmostEqual(sum(st.values()), 12.0)

    def test_overlapping_children_count_once(self):
        spans = [span(0, -1, "a", 0, 10), span(1, 0, "b", 2, 5),
                 span(2, 0, "b", 4, 8), span(3, 0, "c", 9, 11)]
        self.assertAlmostEqual(stats.self_times(spans)[0], 10 - 6 - 1)

    def test_rollup_sums_spans_of_one_call(self):
        spans = [span(0, -1, "streaming.crossLingualLists", 0, 1, task_s=2.0,
                      spill_bytes=5),
                 span(1, -1, "streaming.crossLingualLists", 1, 3, task_s=1.0,
                      shuffle_write_bytes=7),
                 span(2, -1, "streaming.crossLingualPairs", 3, 4)]
        r = stats.rollup(spans)
        lists = r["streaming.crossLingualLists"]
        self.assertAlmostEqual(lists["self_s"], 3.0)
        self.assertAlmostEqual(lists["task_s"], 3.0)
        self.assertEqual((lists["spill_bytes"], lists["shuffle_write_bytes"]), (5, 7))
        self.assertAlmostEqual(r["streaming.crossLingualPairs"]["self_s"], 1.0)

    def test_layer_metrics_of_a_traced_job(self):
        j = job([step("job", "wordcount", 4.0)], mode="traced")
        j["gc_s"] = 0.25
        spans = [span(0, -1, "core.text", 0, 1, task_s=2.0, jobs=1, tasks=8),
                 span(1, -1, "core.flatMapKV", 1, 2, notes={"rows": 1000.0}),
                 span(2, -1, "core.reduceByKeySorted", 2, 3.5, task_s=6.0,
                      shuffle_write_records=250, jobs=2, tasks=13)]
        m = stats.traced_job_metrics(j, spans, cpus=4, input_bytes=0)
        self.assertAlmostEqual(m["core.reduceByKeySorted.self_s"], 1.5)
        self.assertAlmostEqual(m["core.combine_ratio"], 0.25)
        self.assertAlmostEqual(m["spark.core_util"], 8.0 / 16.0)
        self.assertEqual((m["spark.jobs"], m["spark.tasks"]), (3, 21))
        self.assertAlmostEqual(m["bench.span_coverage"], 3.5 / 4.0)
        self.assertEqual(m["operators.exactDedup.self_s"], 0)
        names = {n for n, _ in stats.per_layer_names()}
        self.assertTrue(set(m) <= names)


class Definition(unittest.TestCase):
    def test_reported_metrics_are_the_declared_ones(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         stats.per_layer_names())
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
