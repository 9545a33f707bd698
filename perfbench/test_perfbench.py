"""Tests of the benchmark's pure parts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The split test builds the JVM side if needed (about 30 s) and runs its
`PureChecks` main."""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertTrue(stats.reportable(100, 90))
        self.assertFalse(stats.reportable(99, 90))
        self.assertTrue(stats.reportable(20, 50))
        self.assertFalse(stats.reportable(19, 50))

    def test_highest_reportable(self):
        self.assertEqual(stats.highest_percentile(1000), 99)
        self.assertEqual(stats.highest_percentile(100), 90)
        self.assertEqual(stats.highest_percentile(40), 75)
        self.assertIsNone(stats.highest_percentile(19))
        self.assertIsNone(stats.highest_percentile(45, ladder=(90,)))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)


class SpanSelfTime(unittest.TestCase):
    def span(self, sid, parent, layer, s, e):
        return {"id": sid, "parent": parent, "layer": layer, "start_ms": s, "end_ms": e}

    def test_children_are_subtracted_once(self):
        spans = [self.span("op", None, "bench", 0, 100),
                 self.span("c", "op", "SparkEntry", 0, 30),
                 self.span("x", "op", "operators", 30, 100),
                 self.span("j1", "x", "operators", 40, 70),
                 self.span("j2", "x", "operators", 60, 90),
                 self.span("p", "c", "plans", 10, 15)]
        own = stats.self_times(spans)
        self.assertEqual(own["op"], 0)
        self.assertEqual(own["c"], 25)
        self.assertEqual(own["x"], 20)
        self.assertEqual(own["j1"], 30)
        by_layer = stats.self_time_by_layer(spans)
        self.assertAlmostEqual(by_layer["operators"], (20 + 30 + 30) / 1e3)
        self.assertAlmostEqual(by_layer["plans"], 5 / 1e3)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span("a", None, "bench", 10, 20),
                 self.span("b", "a", "operators", 5, 15)]
        self.assertEqual(stats.self_times(spans)["a"], 5)


class MetricNames(unittest.TestCase):
    def test_benchmark_json_matches_the_runner(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
        self.assertEqual(e2e, run.END_TO_END)
        self.assertEqual(layer, {k: u for k, u in run.PER_LAYER_UNITS.items()
                                 if k not in run.PRINT_ONLY})
        self.assertLessEqual(run.PRINT_ONLY, set(run.PER_LAYER_UNITS))
        self.assertEqual([w["name"] for w in bench["workloads"]], sorted(run.WORKLOADS))

    def test_names_are_well_formed(self):
        for name in list(run.END_TO_END) + list(run.PER_LAYER_UNITS) + run.ADDITIVE:
            self.assertTrue(stats.valid_metric_name(name), name)
        for bad in ("", "a b", "op/p50", "-lead", "x" * 65):
            self.assertFalse(stats.valid_metric_name(bad), bad)


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = gen_inputs.build(0.001, 5, ("orders", "documents"))
        b = gen_inputs.build(0.001, 5, ("documents", "orders"))
        c = gen_inputs.build(0.001, 6, ("orders",))
        self.assertTrue(a["orders"].equals(b["orders"]))
        self.assertTrue(a["documents"].equals(b["documents"]))
        self.assertFalse(a["orders"].equals(c["orders"]))

    def test_written_tables_read_back(self):
        with tempfile.TemporaryDirectory() as d:
            rows = gen_inputs.write(d, 0.001, 1, ("region", "events"))
            self.assertEqual(rows, {"region": 5, "events": 1000})

    def test_event_time_is_stored_as_the_test_data_stores_it(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen_inputs.write(d, 0.001, 1, ("events",))
            schema = pq.ParquetFile(os.path.join(d, "events.parquet")).schema
            ts = json.loads(schema.column(schema.names.index("ts")).logical_type.to_json())
            self.assertEqual((ts["Type"], ts["timeUnit"]), ("Timestamp", "microseconds"))


class BatchSplit(unittest.TestCase):
    def test_split_is_deterministic_and_disjoint(self):
        cp = run.build()
        r = subprocess.run(["java", "-cp", cp, "graft.perfbench.PureChecks"],
                           capture_output=True, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
