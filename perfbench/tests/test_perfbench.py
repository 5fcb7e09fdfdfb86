"""Tests of the benchmark's own code (no JVM needed):

    python3 -m unittest discover -s perfbench/tests

* the result line: every metric has a name, a unit and a value, and the
  attempted and failed counts are present;
* the seeded input generator: one seed gives byte-identical inputs,
  another seed gives different inputs of the same shape;
* the self-time arithmetic of the span tree.
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.dont_write_bytecode = True

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


def fake_doc(workload="analyst_queries"):
    """A measuring-JVM document as GraftBench writes it."""
    ops = [{"name": f"q{i % 5}", "phase": "timed", "wall_s": 0.5 + 0.01 * i,
            "ok": True, "error": "", "traced": i % 2 == 0, "units": 1} for i in range(30)]
    spans = [[1, 0, "queries.plan", 0.0, 0.1], [2, 0, "queries.exec", 0.1, 0.5]]
    return {
        "workload": workload, "jvm_boot_s": 0.4, "unit": "queries", "tail_target": 60.0,
        "setup": {"session_s": 6.0, "register_s": 4.0, "warm_s": 20.0},
        "timed_wall_s": 25.0, "timed_cpu_s": 70.0, "calib_s": [0.25, 0.27],
        "peak_rss_mb": 1500.0, "ops": ops, "checks": {}, "extra": {},
        "trace": {"spans": spans, "writes": [[0.2, 0.3, 2, 1000, 10]],
                  "core": {"jobs": 30, "tasks": 40, "task_run_s": 5.0, "task_cpu_s": 4.0,
                           "gc_s": 0.1, "shuffle_write_bytes": 10, "shuffle_read_bytes": 10,
                           "spill_bytes": 0, "critical_path_s": 3.0},
                  "sources_input_bytes": 0}}


class ResultLineTest(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def test_end_to_end_line_has_every_declared_metric(self):
        metrics, info = run.end_to_end(fake_doc())
        line = run.result_line(30, 0, metrics, run.END_TO_END_UNITS)
        doc = run.parse_result("[perfbench] info\n" + line + "\n")
        self.assertEqual((doc["attempted"], doc["failed"], doc["correct"]), (30, 0, True))
        declared = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        self.assertEqual({k: m["unit"] for k, m in doc["metrics"].items()}, declared)
        for m in doc["metrics"].values():
            self.assertGreater(m["value"], 0)
        self.assertTrue(any("p60 of 30 operations" in s for s in info), info)

    def test_per_layer_line_has_every_declared_metric(self):
        metrics = layers.per_layer(fake_doc(), rows_out=7)
        doc = run.parse_result(run.result_line(30, 1, metrics, run.PER_LAYER_UNITS))
        self.assertFalse(doc["correct"])
        declared = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual({k: m["unit"] for k, m in doc["metrics"].items()}, declared)

    def test_parser_rejects_malformed_lines(self):
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"a": {"value": 1.5, "unit": "s"}}}
        run.parse_result(json.dumps(good))
        for bad in ({**good, "extra": 1}, {**good, "attempted": 0},
                    {**good, "failed": 1.0}, {k: v for k, v in good.items() if k != "failed"},
                    {**good, "metrics": {"a": {"value": 1.5}}},
                    {**good, "metrics": {"a": {"value": "1.5", "unit": "s"}}}):
            with self.assertRaises((ValueError, KeyError)):
                run.parse_result(json.dumps(bad))

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertEqual(run.tail_percentile(30, 60.0), 60.0)
        self.assertEqual(run.tail_percentile(24, 60.0), 50.0)
        self.assertEqual(run.tail_percentile(200, 75.0), 75.0)
        self.assertAlmostEqual(run.percentile([1, 2, 3, 4], 50.0), 2.5)


def digest(root):
    h = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                h[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return h


class GeneratorTest(unittest.TestCase):
    def check_workload(self, workload):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            one = digest(gen.generate(workload, 7, a))
            again = digest(gen.generate(workload, 7, b))
            other_dir = gen.generate(workload, 8, b)
            other = digest(other_dir)
            self.assertEqual(one, again)
            self.assertEqual(set(one), set(other))
            changed = [k for k in one if k != "manifest.json" and one[k] != other[k]]
            self.assertGreater(len(changed), len(one) // 2)
            with open(os.path.join(other_dir, "manifest.json")) as f:
                manifest = json.load(f)
            self.assertEqual((manifest["seed"], manifest["size"]), (8, gen.SIZES[workload]))
            return manifest

    def test_analyst_tables_are_seeded(self):
        m = self.check_workload("analyst_queries")
        self.assertEqual(m["tables"]["documents"]["rows"], gen.SIZES["analyst_queries"]["documents"])

    def test_platform_payloads_are_seeded(self):
        m = self.check_workload("platform_backfill")
        # 17 sources; commodities reads the kr_stock payload (PlatformDay)
        self.assertEqual(len(m["payloads"]), 16)
        self.assertEqual(m["payloads"]["krx_codes"]["rows"],
                         gen.SIZES["platform_backfill"]["krx_codes"] * len(m["days"]))


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertAlmostEqual(layers.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(layers.union_length([]), 0.0)

    def test_self_time_subtracts_covered_child_time(self):
        spans = [[1, 0, "pipeline.ingest", 0.0, 10.0],
                 [2, 1, "sources.fetch", 1.0, 3.0],
                 [3, 1, "sources.parse", 2.0, 4.0],   # overlaps fetch
                 [4, 3, "io.write", 3.5, 5.0],        # runs past its parent
                 [5, 0, "pipeline.ingest", 20.0, 21.0]]
        st = layers.self_times(spans)
        self.assertAlmostEqual(st["pipeline.ingest"], (10 - 3) + 1)
        self.assertAlmostEqual(st["sources.fetch"], 2.0)
        self.assertAlmostEqual(st["sources.parse"], 2.0 - 0.5)
        self.assertAlmostEqual(st["io.write"], 1.5)

    def test_writes_attach_to_the_innermost_span(self):
        spans = [[1, 0, "pipeline.ingest", 0.0, 10.0],
                 [2, 1, "sources.parse", 1.0, 4.0]]
        writes = [[5.0, 6.0, 1, 100, 3], [2.0, 3.0, 2, 50, 1], [30.0, 31.0, 9, 9, 9]]
        out, attached = layers.attach_writes(spans, writes)
        self.assertEqual(attached, [(1, 100, 3), (2, 50, 1)])  # the third is outside
        parents = {s[3]: s[1] for s in out if s[2] == "io.write"}
        self.assertEqual(parents, {5.0: 1, 2.0: 2})
        st = layers.self_times(out)
        self.assertAlmostEqual(st["pipeline.ingest"], 10 - 3 - 1)
        self.assertAlmostEqual(st["sources.parse"], 2.0)
        self.assertAlmostEqual(st["io.write"], 2.0)

    def test_trace_overhead_pairs_operations_by_name(self):
        ops = [{"name": "kr_etf/d1", "phase": "timed", "traced": True, "wall_s": 1.1},
               {"name": "kr_etf/d2", "phase": "timed", "traced": False, "wall_s": 1.0},
               {"name": "gold", "phase": "timed", "traced": True, "wall_s": 5.0}]
        self.assertAlmostEqual(layers.trace_overhead(ops), 0.1)


if __name__ == "__main__":
    unittest.main()
