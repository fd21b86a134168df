"""Self-tests of the benchmark harness (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import tempfile
import unittest
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

import run as bench

SPEC = json.loads((bench.ROOT / "BENCHMARK.json").read_text())


def fake_result(layers):
    """A traced JVM result with one call per layer."""
    calls = [{"id": i, "layer": layer, "name": f"q{i}", "build_ns": 10**9,
              "wall_ns": 2 * 10**9, "error": None}
             for i, layer in enumerate(layers)]
    listener = {str(i): {"jobs": 2, "tasks": 8, "cpu_ns": 3 * 10**9,
                         "shuffle_bytes": 10**6, "spill_bytes": 0,
                         "gc_ms": 5, "plan_ms": 40,
                         "job_spans_ms": [[0, 100], [50, 300]]}
                for i in range(len(calls))}
    return {"calls": calls, "listener": listener, "batch_ms": [900, 700, 800],
            "scaffold_builds": 1, "scaffold_bytes": 1234, "trace_ns": 10**7,
            "wall_ns": 5 * 10**9, "cpu_ns": 4 * 10**9, "vmhwm_kb": 2048,
            "spans": [{"id": 1, "name": "unit", "parent": 0,
                       "start_ns": 0, "end_ns": 10}]}


class MetricNames(unittest.TestCase):
    def test_end_to_end_names_match_spec(self):
        printed = bench.end_to_end_metrics(1.0, fake_result(["Formatters"]), 9)
        self.assertEqual(set(printed), {m["name"] for m in SPEC["end_to_end"]})
        self.assertEqual(bench.END_TO_END_UNITS,
                         {m["name"]: m["unit"] for m in SPEC["end_to_end"]})

    def test_per_layer_names_match_spec(self):
        for layers in (bench.SKI_LAYERS + ("TilesStreaming",),
                       bench.ANALYTICS_LAYERS):
            printed = bench.layer_metrics(fake_result(layers))
            self.assertEqual(set(printed),
                             {m["name"] for m in SPEC["per_layer"]})
        self.assertEqual(bench.PER_LAYER_UNITS,
                         {m["name"]: m["unit"] for m in SPEC["per_layer"]})

    def test_workloads_match_spec(self):
        self.assertEqual(set(bench.WORKLOADS),
                         {w["name"] for w in SPEC["workloads"]})

    def test_layer_roll_up(self):
        m = bench.layer_metrics(fake_result(["Formatters", "Formatters"]))
        self.assertEqual(m["Formatters.jobs"], 4)
        self.assertAlmostEqual(m["Formatters.exec_s"], 0.6)  # 2 x union 300 ms
        self.assertAlmostEqual(m["Formatters.plan_s"], 0.08)
        self.assertEqual(m["Dedup.build_s"], 0.0)


class SelfTime(unittest.TestCase):
    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ns": 0, "end_ns": 100},
            {"id": 2, "parent": 1, "start_ns": 10, "end_ns": 50},
            {"id": 3, "parent": 1, "start_ns": 60, "end_ns": 90},
            {"id": 4, "parent": 2, "start_ns": 20, "end_ns": 30},
        ]
        got = {k: round(v * 1e9) for k, v in bench.self_times(spans).items()}
        self.assertEqual(got, {1: 30, 2: 30, 3: 30, 4: 10})

    def test_unattributed_is_unit_self_time(self):
        r = fake_result(["Formatters"])
        r["spans"] += [{"id": 2, "name": "Formatters", "parent": 1,
                        "start_ns": 2, "end_ns": 9}]
        self.assertAlmostEqual(bench.layer_metrics(r)["unattributed_s"], 3e-9)

    def test_union_of_overlapping_intervals(self):
        self.assertEqual(bench.union_ms([[0, 10], [5, 20], [30, 40]]), 30)
        self.assertEqual(bench.union_ms([]), 0)


class Digests(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.out = Path(self.tmp.name)
        table = pa.table({"b": [2.0000000001, 1.0], "a": ["y", "x"]})
        (self.out / "q_x").mkdir()
        pq.write_table(table, self.out / "q_x" / "part-0.parquet")
        self.calls = [{"name": "q_x", "error": None}]
        self.digest = bench.parquet_digest(self.out / "q_x")

    def tearDown(self):
        self.tmp.cleanup()

    def test_good_digest_passes(self):
        self.assertEqual(bench.check_calls(self.calls, self.out,
                                           {"q_x": self.digest}), (1, 0))

    def test_corrupted_golden_digest_fails(self):
        bad = {"q_x": "0" * 64}
        attempted, failed = bench.check_calls(self.calls, self.out, bad)
        self.assertGreater(failed / attempted, 0)

    def test_thrown_call_fails(self):
        calls = [{"name": "q_x", "error": "boom"}]
        self.assertEqual(bench.check_calls(calls, self.out,
                                           {"q_x": self.digest}), (1, 1))

    def test_digest_ignores_row_and_column_order(self):
        flipped = pa.table({"a": ["x", "y"], "b": [1.0, 2.0]})
        self.assertEqual(bench.arrow_digest(flipped), self.digest)


if __name__ == "__main__":
    unittest.main()
