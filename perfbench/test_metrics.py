#!/usr/bin/env python3
"""Tests of the benchmark harness's own accounting.

    python3 perfbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


def op(name, req, ms=100.0, ok=True, pass_=0, **kw):
    o = {"op": name, "req": req, "kind": "api", "pass": pass_, "traced": False, "ok": ok,
         "ms": ms, "construct_ms": ms / 2, "action_ms": ms / 2}
    o.update(kw)
    return o


def record(workload, ops, **kw):
    r = {"workload": workload, "cores": 4, "ops": ops,
         "setup": {"session_s": 1.0, "warm_s": 2.0, "build_s": 3.0},
         "passes": [{"traced": False, "s": 1.0}],
         "cache": {"persists": 0, "mem_peak": 0, "disk_peak": 0},
         "extra": {"persisted_before": 0, "persisted_after": 0, "footprint_bytes": 10,
                   "live_ok": True, "live_vectors": 1},
         "settings": {}}
    r.update(kw)
    return r


class TailRule(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        for n in range(0, 11):
            self.assertIsNone(metrics.tail(list(range(n))))

    def test_eleven_samples_give_the_smallest_with_ten_beyond(self):
        p, value, n = metrics.tail([float(x) for x in range(11)])
        self.assertEqual((value, n), (0.0, 11))
        self.assertEqual(p, 9)

    def test_known_sizes(self):
        self.assertEqual(metrics.tail(list(range(20)))[:2], (50, 9))
        self.assertEqual(metrics.tail(list(range(100)))[:2], (90, 89))
        self.assertEqual(metrics.tail(list(range(1000)))[:2], (99, 989))

    def test_highest_percentile_with_ten_beyond(self):
        import math
        for n in range(11, 600):
            p, value, _ = metrics.tail(list(range(n)))
            beyond = n - (value + 1)
            self.assertGreaterEqual(beyond, 10, n)
            if p < 100:
                next_rank = max(1, math.ceil((p + 1) * n / 100))
                self.assertLess(n - next_rank, 10, n)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class FailureAccounting(unittest.TestCase):
    def batch(self):
        expected = {"queries": {"a": {"fp": "3:1:2"}, "b": {"rows": 7}, "c": {"fp": "1:1:1"}}}
        ops = [
            op("a", 1, ms=10, pass_=-1, fp="3:1:2", rows=3),       # warm-up, verified
            op("a", 2, ms=20, fp="3:1:2", rows=3),                 # verified
            op("b", 3, ms=30, fp="7:9:9", rows=7),                 # row-count fallback
            op("c", 4, ms=1, fp="1:0:0", rows=1),                  # wrong answer
            op("a", 5, ms=2, ok=False, err="boom"),                # exception
            op("d", 6, ms=40, fp="1:1:1", rows=1),                 # no expectation
        ]
        return record(metrics.BATCH, ops), expected

    def test_failures_and_mismatches_count_and_are_never_timed(self):
        r, expected = self.batch()
        res = metrics.evaluate(r, expected, 0, ".")
        self.assertEqual(res["attempted"], 6)
        self.assertEqual(res["failed"], 3)
        self.assertFalse(res["correct"])
        self.assertEqual(res["detail"]["op_p50_ms"][0], 25.0)
        self.assertAlmostEqual(res["detail"]["error_rate"][0], 0.5)
        self.assertEqual(len(res["problems"]), 3)

    def test_all_verified_is_correct(self):
        r, expected = self.batch()
        r["ops"] = r["ops"][:3]
        res = metrics.evaluate(r, expected, 0, ".")
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (3, 0))
        self.assertEqual(res["metrics"]["answer_quality"]["value"], 1.0)

    def test_vector_live_count_mismatch_is_a_problem(self):
        r = record("vector", [op("search", 1, recall=1.0)])
        r["extra"].update(live_ok=False, stats={"n_vectors": 2}, live_vectors=1)
        res = metrics.evaluate(r, {}, 0, ".")
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 0)

    def test_recall_weights_batch_queries(self):
        r = record("vector", [op("search", 1, recall=0.0),
                             op("search_batch", 2, recall=1.0, queries=3)])
        res = metrics.evaluate(r, {}, 0, ".")
        self.assertAlmostEqual(res["metrics"]["answer_quality"]["value"], 0.75)


class JobAttribution(unittest.TestCase):
    def test_parse_tags(self):
        self.assertEqual(metrics.parse_tags("op:knn,phase:action,req:12"),
                         {"op": "knn", "phase": "action", "req": "12"})
        self.assertEqual(metrics.parse_tags(""), {})

    def test_untagged_jobs(self):
        jobs = [{"tags": "op:a,phase:construct,req:1"}, {"tags": ""},
                {"tags": "op:a"}, {"tags": "req:2,op:b,phase:action"}]
        self.assertEqual(metrics.untagged_jobs(jobs), 2)

    def test_untagged_jobs_per_pass_in_traced_metrics(self):
        jobs = [{"id": i, "start": 0, "end": 1, "stages": [], "ok": True,
                 "tags": "op:search,phase:action,req:1" if i % 2 else ""} for i in range(6)]
        r = record("vector", [dict(op("search", 1), traced=True)],
                   passes=[{"traced": True, "s": 1.0}, {"traced": True, "s": 1.0}],
                   trace={"jobs": jobs, "stages": [], "spans": [], "failed_tasks": 0})
        res = metrics.evaluate(r, {}, 1, ".")
        self.assertEqual(res["metrics"]["spark.untagged_jobs"]["value"], 1.5)
        self.assertEqual(res["metrics"]["spark.jobs"]["value"], 3.0)

    def test_driver_time_is_span_minus_job_coverage(self):
        self.assertEqual(metrics.covered_ms(0, 100, [(10, 30), (20, 40), (90, 120)]), 40)
        self.assertEqual(metrics.covered_ms(0, 100, []), 0)
        self.assertEqual(metrics.covered_ms(50, 60, [(0, 100)]), 10)


class Subset(unittest.TestCase):
    def test_every_family_is_sampled_in_key_order(self):
        kinds = {f"{f}_{i:02d}": f for f in ("vector", "events") for i in range(65)}
        kinds["multimodal_x"] = "multimodal"
        got = metrics.subset(kinds)
        self.assertEqual(got, ["events_00", "events_30", "events_60", "multimodal_x",
                               "vector_00", "vector_30", "vector_60"])


if __name__ == "__main__":
    unittest.main()
