"""Tests of the benchmark's own code (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics  # noqa: E402


def span(id, parent, kind, start, end, name="", **attrs):
    return {"id": id, "parent": parent, "kind": kind, "name": name,
            "start_us": start, "end_us": end, "attrs": attrs}


class GeneratorTest(unittest.TestCase):
    def test_corpus_is_a_function_of_the_seed(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as d:
            a = gen.write_corpus(os.path.join(d, "a"), 7, 64 << 10, 4)
            b = gen.write_corpus(os.path.join(d, "b"), 7, 64 << 10, 4)
            c = gen.write_corpus(os.path.join(d, "c"), 8, 64 << 10, 4)
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
            self.assertEqual(sorted(os.listdir(os.path.join(d, "a"))),
                             ["documents.parquet"] + [f"part-{i:02d}.txt" for i in range(4)])

    def test_tables_are_a_function_of_the_seed(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as d:
            gen.write_tables(os.path.join(d, "a"), 3)
            gen.write_tables(os.path.join(d, "b"), 3)
            self.assertEqual(gen.digest(os.path.join(d, "a")), gen.digest(os.path.join(d, "b")))
            self.assertEqual(sorted(os.listdir(os.path.join(d, "a"))),
                             sorted(f"{t}.parquet" for t in gen.TABLE_NAMES))


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(20), 0.5), {"value": 9, "n": 20})
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        self.assertEqual(metrics.percentile(range(100), 0.9), {"value": 89, "n": 100})
        self.assertIsNone(metrics.percentile([], 0.5))

    def test_reports_median_and_highest_allowed_tail(self):
        got = metrics.reportable_percentiles(list(range(40)))
        self.assertEqual(got, {"p50": {"value": 19, "n": 40}, "p75": {"value": 29, "n": 40}})
        self.assertEqual(metrics.reportable_percentiles(list(range(5))), {})


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        ex = span(1, 0, "execute", 0, 100)
        kids = [span(2, 1, "job", 10, 30), span(3, 1, "plan.planning", 25, 40),
                span(4, 1, "job", 90, 120), span(5, 1, "job", 200, 300)]
        # covered: [10, 40] and [90, 100] -> 40 of 100
        self.assertEqual(metrics.self_time(ex, kids), 60)
        self.assertEqual(metrics.self_time(ex, []), 100)

    def test_orphans_attach_to_the_innermost_harness_span(self):
        spans = [span(1, 0, "pass", 0, 1000, "pass 1"), span(2, 1, "op", 0, 500, "q"),
                 span(3, 2, "build", 0, 100, "q"), span(4, 2, "execute", 100, 500, "q"),
                 span(5, 0, "plan.planning", 120, 150), span(6, 0, "aqe", 300, 300)]
        tree = metrics.Tree(spans)
        self.assertEqual([s["id"] for s in tree.kids(spans[3])], [5, 6])

    def test_pass_layers_driver_gap_and_build_share(self):
        spans = [span(1, 0, "pass", 0, 1000_000, "pass 1"), span(2, 1, "op", 0, 1000_000, "q"),
                 span(3, 2, "build", 0, 250_000, "q"), span(4, 2, "execute", 250_000, 1000_000, "q"),
                 span(5, 3, "job", 50_000, 150_000), span(6, 4, "job", 300_000, 700_000),
                 span(7, 0, "plan.planning", 260_000, 300_000),
                 span(8, 6, "stage", 300_000, 700_000, tasks=4, run_ms=1600.0,
                      shuffle_write_bytes=1.0, shuffle_write_records=10.0)]
        got = metrics.pass_layers(metrics.Tree(spans), spans[0], cores=4, tokens=0)
        # execute 750 ms, covered by plan 40 ms + job 400 ms
        self.assertAlmostEqual(got["exec.driver_gap_ms"], 310.0)
        self.assertAlmostEqual(got["build.share"], 0.25)
        self.assertEqual(got["build.jobs"], 1)
        self.assertEqual(got["exec.jobs"], 2)
        self.assertAlmostEqual(got["exec.core_util"], 0.4)
        self.assertAlmostEqual(got["mr.map_task_ms"], 1600.0)

    def test_trace_overhead_compares_with_both_neighbours(self):
        passes = [{"index": 0, "phase": "cold", "traced": True, "wall_s": 9.0},
                  {"index": 1, "phase": "warmup", "traced": False, "wall_s": 5.0},
                  {"index": 2, "phase": "measured", "traced": False, "wall_s": 4.4},
                  {"index": 3, "phase": "measured", "traced": True, "wall_s": 4.4},
                  {"index": 4, "phase": "measured", "traced": False, "wall_s": 3.6}]
        self.assertAlmostEqual(metrics.trace_overhead(passes), 0.1)


def fake_run():
    counters = {"jit_ms": 5.0, "gc_ms": 1.0, "codegen_compiles": 2.0, "codegen_ms": 3.0,
                "heap_peak_mb": 100.0, "cpu_ms": 2500.0, "jit_cpu_ms": 500.0}
    phases = ["cold", "warmup", "measured", "measured", "measured"]
    passes = [{"index": i, "phase": ph, "traced": i in (0, 3), "wall_s": 1.0 + i,
               "ops": [{"name": "q", "s": 0.5, "ok": True}], "counters": counters}
              for i, ph in enumerate(phases)]
    result = {"cores": 4, "tokens": 0, "rss_peak_mb": 500.0, "passes": passes,
              "setups": [{"setup_s": 1.0, "session_ms": 2.0, "load_ms": 3.0}] * 3}
    spans = [span(10 + i, 0, "pass", i * 100, i * 100 + 50, f"pass {i}") for i in (0, 3)]
    spans.append(span(99, 0, "setup", 0, 10, "Tables.load"))
    return result, spans


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.spec = json.load(f)

    def test_end_to_end_names_and_units_match_the_spec(self):
        result, _ = fake_run()
        self.assertEqual(set(metrics.end_to_end(result)), set(metrics.E2E_UNITS))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]}, metrics.E2E_UNITS)

    def test_pass_cpu_leaves_out_the_jit_threads(self):
        result, _ = fake_run()
        self.assertAlmostEqual(metrics.end_to_end(result)["pass_cpu_s"], 2.0)
        self.assertAlmostEqual(metrics.pass_wall(result), 4.0)

    def test_per_layer_names_and_units_match_the_spec(self):
        result, spans = fake_run()
        self.assertEqual(set(metrics.per_layer(result, spans)), set(metrics.LAYER_UNITS))
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]}, metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
