"""Self-tests of the benchmark.

Run from the root of a checkout:  python3 -m unittest perfbench/test_perfbench.py

The statistics and layer-map tests are pure Python. The attribution test
builds the harness and runs its `selftest` probe in one Spark JVM (about
a minute).
"""
import argparse
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
from stats import self_time, tail, union_length  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_stay_beyond(self):
        xs = list(range(1, 41))  # 40 samples: the 30th has 10 above it
        self.assertEqual(tail(xs), (30, 75.0, 40))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 8.0, 7.0, 6.0, 10.0, 11.0, 12.0]
        value, pct, n = tail(xs)
        self.assertEqual((value, n), (2.0, 12))
        self.assertAlmostEqual(pct, 100 * 2 / 12)

    def test_eleven_samples_is_the_smallest_with_a_tail(self):
        self.assertEqual(tail(list(range(11)))[:2], (0, 100 / 11))

    def test_ten_or_fewer_fall_back_to_the_median(self):
        self.assertEqual(tail([3.0, 1.0, 2.0]), (2.0, 50.0, 3))
        self.assertEqual(tail([]), (0.0, 0.0, 0))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 6.0},
                {"start": 2.0, "end": 5.0}]
        self.assertAlmostEqual(self_time(span, kids), 5.0)

    def test_children_are_clipped_to_the_parent(self):
        span = {"start": 0.0, "end": 10.0}
        kids = [{"start": -2.0, "end": 1.0}, {"start": 8.0, "end": 12.0}]
        self.assertAlmostEqual(self_time(span, kids), 7.0)

    def test_no_children(self):
        self.assertAlmostEqual(self_time({"start": 2.0, "end": 3.5}, []), 1.5)

    def test_union_of_disjoint_and_nested(self):
        self.assertAlmostEqual(union_length([(0, 2), (1, 1.5), (5, 6)]), 3.0)


class LayerMap(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_per_layer_metrics_match_the_layer_map(self):
        self.assertEqual(
            [(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]],
            [(m["name"], m["unit"], m["better"]) for m in layers.LAYER_MAP])

    def test_every_link_names_a_real_metric_and_workload(self):
        e2e = {m["name"] for m in self.bench["end_to_end"]}
        wls = {w["name"] for w in self.bench["workloads"]}
        for m in layers.LAYER_MAP:
            self.assertTrue(set(m["moves"]) <= e2e, m["name"])
            self.assertTrue(m["workloads"] and set(m["workloads"]) <= wls, m["name"])

    def test_workloads_match_run_py(self):
        self.assertEqual({w["name"] for w in self.bench["workloads"]}, set(run.WORKLOADS))


class EagerJobAttribution(unittest.TestCase):
    """A key that localCheckpoints while it is constructed fires jobs
    inside its key.construct span; a lazy key fires none there."""

    def test_construction_jobs_are_attributed(self):
        work = os.path.abspath(os.path.join(".bench_work", "selftest"))
        record = work + ".json"
        args = argparse.Namespace(workload="selftest", seed=1, seconds=1, trace=1)
        try:
            rec = run.run_harness(args, work, record)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        self.assertEqual(rec["failures"], [])
        traced = [op for op in rec["ops"] if op["traced"] and op["ok"]]
        jobs = layers.op_jobs(rec, traced)
        construct = {s["parent"]: s["id"] for s in rec["spans"] if s["name"] == "key.construct"}
        eager = {}
        for op in traced:
            n = sum(1 for j in jobs[op["span"]] if j["span"] == construct[op["span"]])
            eager.setdefault(op["name"], []).append(n)
        self.assertTrue(all(n > 0 for n in eager["checkpointed"]), eager)
        self.assertTrue(all(n == 0 for n in eager["lazy"]), eager)
        metrics = layers.per_layer(rec, traced)
        self.assertGreater(metrics["spark.eager_jobs"][0], 0)


if __name__ == "__main__":
    unittest.main()
