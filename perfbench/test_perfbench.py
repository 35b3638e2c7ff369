"""Tests of the benchmark's own logic: metric helpers, answer comparison and
seeded generation. Run with `python3 -m unittest discover perfbench`."""

import os
import random
import tempfile
import unittest

import datagen
import layers
import steady
import workloads


class MetricHelpers(unittest.TestCase):
    def test_percentile_interpolates_and_handles_no_samples(self):
        self.assertEqual(layers.percentile([], 50), 0.0)
        self.assertEqual(layers.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertEqual(layers.percentile([1, 2, 3, 4, 5], 100), 5)

    def test_union_clips_and_merges_overlaps(self):
        self.assertEqual(layers.union_ms([(0, 4), (2, 6), (10, 12)], 1, 11), 6)
        self.assertEqual(layers.union_ms([], 0, 5), 0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "start_ms": 0, "end_ms": 10},
            {"id": 2, "parent": 1, "name": "job", "start_ms": 1, "end_ms": 5},
            {"id": 3, "parent": 1, "name": "job", "start_ms": 4, "end_ms": 6},
            {"id": 4, "parent": 2, "name": "stage", "start_ms": 1, "end_ms": 3},
        ]
        self.assertEqual(layers.self_times(spans), {"op": 5, "job": 4, "stage": 2})


class Answers(unittest.TestCase):
    def test_same_rows_tolerates_decimal_rounding_only(self):
        self.assertIsNone(workloads.same_rows([[1, 0.0499728]], [(1, 0.049972832)]))
        self.assertIsNotNone(workloads.same_rows([[1, 0.05]], [(1, 0.06)]))
        self.assertIsNotNone(workloads.same_rows([["a"]], [("a",), ("b",)]))

    def test_dates_compare_as_iso_text(self):
        import datetime
        self.assertIsNone(workloads.same_rows([["1995-03-01"]], [(datetime.date(1995, 3, 1),)]))


class Generation(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as d:
            a = datagen.generate(os.path.join(d, "a"), 0.001, 7, ("orders",))
            b = datagen.generate(os.path.join(d, "b"), 0.001, 7, ("orders",))
            self.assertEqual(a, b)
            with open(os.path.join(d, "a", "orders.parquet"), "rb") as fa, \
                    open(os.path.join(d, "b", "orders.parquet"), "rb") as fb:
                self.assertEqual(fa.read(), fb.read())

    def test_olap_ops_depend_on_the_seed_only(self):
        def ops(seed):
            w = workloads.OlapScan(seed, "/data")
            return [w._op(j, w.rng) for j in range(30)]
        self.assertEqual(ops(3), ops(3))
        self.assertNotEqual(ops(3), ops(4))
        # the engine and DuckDB run the same statement up to table names
        for o in ops(3):
            for s in ("_d", "_i"):
                self.assertNotIn("lineitem" + s, o["duck"])
            self.assertEqual(o["sql"].replace("lineitem_d", "lineitem").replace("lineitem_i", "lineitem")
                             .replace("orders_d", "orders").replace("orders_i", "orders"), o["duck"])

    def test_every_template_is_used_once_per_cycle(self):
        w = workloads.OlapScan(1, "/data")
        names = [w._op(j, random.Random(0))["template"] for j in range(w.cycle)]
        self.assertEqual(len(set(names)), w.cycle)


class ExactRepeat(unittest.TestCase):
    @staticmethod
    def art(data_bytes, per_row):
        return {"per_op": [{"i": 0, "group": "write", "rows_changed": 200}],
                "per_op_trace": [{"i": 0, "jobs": 4.0, "files_added": 6.0, "bytes_added": 11163.0 + per_row,
                                  "data_bytes_added": data_bytes}],
                "data_files_only": {"write_bytes_per_row": per_row, "space_amp": 1.5}}

    def test_metadata_bytes_may_differ_between_runs(self):
        a, b = self.art(9000.0, 45.0), self.art(9000.0, 45.0)
        b["per_op_trace"][0]["bytes_added"] += 1
        self.assertEqual(steady.compare_repeats([a, b]), [])

    def test_data_bytes_must_repeat(self):
        self.assertEqual(len(steady.compare_repeats([self.art(9000.0, 45.0), self.art(9001.0, 45.0)])), 1)
        self.assertEqual(len(steady.compare_repeats([self.art(9000.0, 45.0), self.art(9000.0, 46.0)])), 1)


class BenchmarkFile(unittest.TestCase):
    def test_printed_metrics_are_the_ones_benchmark_json_lists(self):
        import json
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            bench = json.load(f)
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(layers.PRINTED))
        result = {"ops": [{"i": 0, "ms": 5.0, "group": "read", "kind": "select"}], "setup_s": 1.0,
                  "window_s": 1.0}
        e2e = layers.Report(workloads.OlapScan(1, "/data"), {"ops": []}, result, 4).end_to_end()
        self.assertEqual([m["name"] for m in bench["end_to_end"]], list(e2e))
        for w in bench["workloads"]:
            self.assertIn(w["name"], workloads.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
