"""Tests of the benchmark's own arithmetic: the tail percentile rule,
metric names and units, and span self time.

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_hundred_samples_give_p90(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), (90, 90, 100))

    def test_thousand_samples_give_p99(self):
        xs = list(range(1, 1001))
        self.assertEqual(metrics.tail(xs), (990, 99, 1000))

    def test_ten_beyond_the_percentile(self):
        for n in (20, 37, 64, 250):
            xs = sorted(range(n))
            value, p, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
            if p < 99:  # one percentile higher leaves fewer than ten beyond
                k = -(-(p + 1) * n // 100)
                self.assertLess(n - k, 10)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail([]), (0.0, 100, 0))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))


class SpanSelfTime(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [(0, "read.get_map", -1, 0, 100),
                 (1, "spark.job", 0, 10, 30),
                 (2, "spark.job", 0, 50, 60)]
        self.assertEqual(metrics.self_times(spans), {0: 70, 1: 20, 2: 10})

    def test_overlapping_children_count_once(self):
        spans = [(0, "ingest.reindex", -1, 0, 100),
                 (1, "spark.job", 0, 10, 40),
                 (2, "spark.job", 0, 30, 50)]
        self.assertEqual(metrics.self_times(spans)[0], 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [(0, "index.views", -1, 0, 100),
                 (1, "spark.job", 0, 90, 130)]
        self.assertEqual(metrics.self_times(spans)[0], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [(0, "ingest.reindex", -1, 0, 100),
                 (1, "index.views", 0, 20, 80),
                 (2, "spark.job", 1, 30, 50)]
        self.assertEqual(metrics.self_times(spans), {0: 40, 1: 40, 2: 20})

    def test_jobs_attach_to_innermost_span(self):
        spans = [(0, "ingest.reindex", -1, 0, 100), (1, "index.views", 0, 20, 80)]
        jobs = [[7, 25, 40, 4, 100, 0, 0, 0, 0, 0], [8, 5, 10, 1, 5, 0, 0, 0, 0, 0]]
        out, phase = metrics.attach_jobs(spans, jobs)
        self.assertEqual([s[2] for s in out[2:]], [1, 0])
        self.assertEqual(phase, {7: "ingest.reindex", 8: "ingest.reindex"})


class OpLatency(unittest.TestCase):
    def test_mean_of_per_class_medians(self):
        S = {"a": [10.0, 30.0, 20.0], "b": [100.0, 300.0], "c@traced": [1.0]}
        self.assertEqual(metrics.op_ms(S, (("a",), ("b",))), (20.0 + 200.0) / 2)

    def test_a_class_pools_its_kinds(self):
        S = {"a": [10.0, 30.0], "b": [20.0], "c": [7.0]}
        self.assertEqual(metrics.op_ms(S, (("a", "b"), ("c",))), (20.0 + 7.0) / 2)

    def test_classes_without_samples_are_skipped(self):
        self.assertEqual(metrics.op_ms({"a": [4.0]}, (("a",), ("b",))), 4.0)
        self.assertEqual(metrics.op_ms({}, (("a",),)), 0.0)

    def test_sample_count_per_class_does_not_weigh(self):
        few = {"a": [10.0], "b": [100.0]}
        many = {"a": [10.0] * 9, "b": [100.0]}
        self.assertEqual(metrics.op_ms(few, (("a",), ("b",))), metrics.op_ms(many, (("a",), ("b",))))


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.spec = metrics.load_spec(os.path.join(ROOT, "BENCHMARK.json"))

    def test_declared_names_and_units_are_well_formed(self):
        self.assertEqual(metrics.validate_spec(self.spec), [])
        self.assertLessEqual(len(self.spec["per_layer"]), 128)
        setup = [m for m in self.spec["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")

    def test_bad_names_are_reported(self):
        spec = {"end_to_end": [{"name": "_x", "unit": "ms"}, {"name": "a", "unit": "m s"}],
                "per_layer": [{"name": "a", "unit": "s"}]}
        self.assertEqual(len(metrics.validate_spec(spec)), 3)

    def test_every_declared_metric_is_computed_with_its_unit(self):
        rec = {"samples": {"setup_unit_s": [2.0, 1.0, 3.0], "ingest.reindex": [3000.0, 3500.0],
                           "ingest.bulk": [1000.0, 1200.0]},
               "values": {"loop_s": 8.0, "loop.ops": 2, "input.files": 600, "input.bytes": 1000},
               "spans": [], "jobs": [], "plans": [], "attempted": 4, "failed": 0,
               "jvm": {"gc_s": 0.5, "heap_peak_mb": 900.0}, "cores": 4}
        arms = [m["name"].split(".")[1] for m in self.spec["per_layer"]
                if m["name"].startswith("op.") and m["name"].endswith(".s")]
        e2e, per, _ = metrics.compute(rec, "ingest_churn", arms)
        self.assertEqual(e2e["setup_s"], 2.0)
        self.assertEqual(e2e["op_ms"], 3250.0)
        for traced in (False, True):
            out = metrics.select(self.spec, {**per, **e2e}, traced)
            group = self.spec["per_layer" if traced else "end_to_end"]
            self.assertEqual(list(out), [m["name"] for m in group])
            for m in group:
                self.assertEqual(out[m["name"]]["unit"], m["unit"])
                self.assertIsInstance(out[m["name"]]["value"], float)
            json.dumps(out)


if __name__ == "__main__":
    unittest.main()
