"""Self-tests for the benchmark's arithmetic (no JVM needed):

    python3 -m unittest discover perfbench
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def span(id_, layer, start_s, end_s, parent=-1, name=None, pass_=1):
    return {"id": id_, "name": name or layer, "layer": layer, "parent": parent,
            "pass": pass_, "start_us": int(start_s * 1e6), "end_us": int(end_s * 1e6)}


def stage(job, submit_s, end_s, run_ms=0, cpu_ns=0, max_ms=0, shuffle=0, inp=0):
    return {"stage": job, "attempt": 0, "job": job,
            "submit_ms": int(submit_s * 1000), "end_ms": int(end_s * 1000),
            "tasks": 1, "run_ms": run_ms, "cpu_ns": cpu_ns, "max_task_ms": max_ms,
            "shuffle_write_bytes": shuffle, "input_bytes": inp}


class CoveredTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(tracing.covered([(1, 4), (2, 6), (8, 9)], 0, 10), 6)

    def test_nested_and_duplicate_intervals_count_once(self):
        self.assertEqual(tracing.covered([(1, 9), (2, 3), (2, 3)], 0, 10), 8)

    def test_clipped_to_the_window(self):
        self.assertEqual(tracing.covered([(-5, 2), (8, 20)], 0, 10), 4)

    def test_outside_or_empty(self):
        self.assertEqual(tracing.covered([(11, 12), (3, 3)], 0, 10), 0)
        self.assertEqual(tracing.covered([], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [span(0, "ops.Graph", 0, 10), span(1, "ops.Graph", 1, 4, parent=0),
                 span(2, "ops.Graph", 3, 6, parent=0), span(3, "x", 20, 30)]
        self.assertAlmostEqual(tracing.self_time(spans[0], spans), 5.0)

    def test_grandchildren_do_not_count(self):
        spans = [span(0, "a", 0, 10), span(1, "a", 2, 4, parent=0),
                 span(2, "a", 5, 9, parent=1)]
        self.assertAlmostEqual(tracing.self_time(spans[0], spans), 8.0)

    def test_leaf(self):
        s = span(0, "a", 1, 3.5)
        self.assertAlmostEqual(tracing.self_time(s, [s]), 2.5)


class CoreUtilTest(unittest.TestCase):
    def test_ratio_of_task_time_to_core_time(self):
        self.assertAlmostEqual(tracing.core_util(8.0, 4.0, cores=4), 0.5)
        self.assertAlmostEqual(tracing.core_util(4.0, 1.0, cores=4), 1.0)

    def test_empty_span(self):
        self.assertEqual(tracing.core_util(3.0, 0.0), 0.0)


class ErrorRateTest(unittest.TestCase):
    def test_counts(self):
        self.assertEqual(tracing.error_rate(22, 0), 0.0)
        self.assertAlmostEqual(tracing.error_rate(22, 2), 2 / 22)
        self.assertEqual(tracing.error_rate(0, 0), 0.0)


class AttributionTest(unittest.TestCase):
    def test_property_kept_when_job_starts_inside_its_span(self):
        spans = [span(0, "pass", 0, 10, pass_=1), span(1, "ops.Dedup", 1, 5, parent=0)]
        jobs = [{"job": 7, "span": 1, "start_ms": 2000, "end_ms": 3000}]
        self.assertEqual(tracing.attribute_jobs(spans, jobs), {7: 1})

    def test_stale_or_missing_property_falls_back_to_innermost_open_span(self):
        spans = [span(0, "pass", 0, 10), span(1, "ingest.infer", 1, 5, parent=0),
                 span(2, "pass", 20, 30), span(3, "ingest.infer", 21, 25, parent=2)]
        jobs = [{"job": 1, "span": 1, "start_ms": 22000, "end_ms": 22500},
                {"job": 2, "span": -1, "start_ms": 6000, "end_ms": 6500},
                {"job": 3, "span": -1, "start_ms": 40000, "end_ms": 40500}]
        self.assertEqual(tracing.attribute_jobs(spans, jobs), {1: 3, 2: 0, 3: -1})


class LayerMetricsTest(unittest.TestCase):
    def test_driver_time_is_span_minus_stage_union(self):
        spans = [span(0, "pass", 0, 20),
                 span(1, "ops.Graph", 0, 10, parent=0, name="graph_pagerank"),
                 span(2, "ops.Graph", 0, 2, parent=1, name="build")]
        jobs = [{"job": 1, "span": 2, "start_ms": 500, "end_ms": 1500},
                {"job": 2, "span": 1, "start_ms": 3000, "end_ms": 9000},
                {"job": 3, "span": 0, "start_ms": 12000, "end_ms": 13000}]
        stages = [stage(1, 0.5, 1.5, run_ms=2000, cpu_ns=10**9, max_ms=900),
                  stage(2, 3, 7, run_ms=12000, cpu_ns=3 * 10**9, max_ms=4000,
                        shuffle=2_000_000),
                  stage(2, 6, 9, run_ms=4000),
                  stage(3, 12, 13, run_ms=999_000)]
        m = tracing.layer_pass_metrics("ops.Graph", spans, jobs, stages, cores=4)
        self.assertAlmostEqual(m["wall_s"], 10)
        self.assertAlmostEqual(m["driver_s"], 10 - 1 - 6)
        self.assertAlmostEqual(m["build_s"], 2)
        self.assertEqual(m["jobs"], 2)
        self.assertAlmostEqual(m["task_cpu_s"], 4)
        self.assertAlmostEqual(m["core_util"], 18 / 40)
        self.assertAlmostEqual(m["max_task_s"], 4)
        self.assertAlmostEqual(m["shuffle_mb"], 2)

    def test_layer_absent_from_the_pass_reads_zero(self):
        m = tracing.layer_pass_metrics("ops.Bpe", [span(0, "pass", 0, 1)], [], [])
        self.assertEqual((m["wall_s"], m["jobs"], m["core_util"]), (0, 0, 0))


class PerLayerTest(unittest.TestCase):
    def test_metric_names(self):
        names = [n for n, _, _ in tracing.metric_specs()]
        self.assertEqual(len(names), 122)
        self.assertEqual(len(set(names)), 122)
        self.assertIn("ops.Graph.build_s", names)
        self.assertIn("sources.raw.input_mb", names)
        self.assertNotIn("ops.Graph.input_mb", names)
        self.assertEqual(names[-2:], ["jvm.gc_s", "trace.overhead_s"])

    def test_medians_over_warm_traced_passes_and_overhead(self):
        # cold (traced), untraced warm-up, then traced/untraced pairs
        walls = [9, 8, 3, 1.5, 1, 1]
        spans = []
        for p, w in enumerate(walls):
            a = 10 * p
            spans += [span(2 * p, "pass", a, a + w + 1, pass_=p),
                      span(2 * p + 1, "ops.Bpe", a, a + w, parent=2 * p, pass_=p)]
        passes = [{"pass": p, "traced": p in (0, 2, 4), "wall_s": w,
                   "gc_s": [5, 4, 0.5, 0.25, 0.75, 0.1][p]}
                  for p, w in enumerate(walls)]
        trace = {"spans": [s for s in spans if s["pass"] in (0, 2, 4)],
                 "jobs": [], "stages": []}
        out = tracing.per_layer(trace, passes)
        self.assertAlmostEqual(out["ops.Bpe.wall_s"], 2)
        self.assertAlmostEqual(out["jvm.gc_s"], 0.625)
        # traced median 2 minus the untraced passes 3 and 5 (1.25): the
        # warm-up pass 1 is left out
        self.assertAlmostEqual(out["trace.overhead_s"], 0.75)
        self.assertEqual(out["ops.Graph.wall_s"], 0.0)

if __name__ == "__main__":
    unittest.main()
