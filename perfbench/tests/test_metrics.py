"""Self-tests of the harness's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import metrics  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(metrics.tail_percentile(0))
        self.assertIsNone(metrics.tail_percentile(99))    # 9.9 beyond p90
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(199), 90.0)
        self.assertEqual(metrics.tail_percentile(200), 95.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_median_of_empty_is_default(self):
        self.assertEqual(metrics.median([]), 0.0)
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_empty(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(3, 3), (4, 2)]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_self_time_subtracts_covered_part_only(self):
        # children partly outside the span count only inside it
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (15, 16), (18, 30)]), 10 - 5)
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(0, 10), (2, 4)]), 0)

    def test_driver_time_is_op_wall_not_under_any_job(self):
        doc = {"ops": [_op(0, 1000, 2000)],
               "jobs": [_job(0, 1100, 1300, "graft.glm.Gram$.normal(Gram.scala:1)"),
                        _job(0, 1200, 1400, ""),
                        _job(0, 1900, 2100, "graft.glm.SuffStats$.collapse(S.scala:2)")],
               "queries": [], "direct": []}
        m = metrics.per_layer(doc, "glm_factor", cpus=4)
        self.assertAlmostEqual(m["op.driver_s"], (1000 - 300 - 100) / 1e3)
        self.assertAlmostEqual(m["gram.job_s"], 0.2)
        self.assertAlmostEqual(m["suffstats.job_s"], 0.1)   # clipped at the op's end
        self.assertEqual(m["glm.jobs"], 1)                   # the frameless job
        self.assertEqual(m["exec.jobs"], 3)

    def test_direct_calls_are_separate_spans(self):
        direct = [dict(_op(5 + k, 3000 + 1000 * k, 3500 + 1000 * k), name=name)
                  for k, name in enumerate(["grouped.native", "grouped.native", "gram.pass"])]
        doc = {"ops": [_op(0, 1000, 2000)], "direct": direct, "queries": [],
               "jobs": [_job(5, 3000, 3100, ""), _job(6, 4000, 4300, "")]}
        m = metrics.per_layer(doc, "glm_factor", cpus=4)
        self.assertAlmostEqual(m["grouped.native_s"], 0.5)
        self.assertAlmostEqual(m["gram.pass_s"], 0.5)
        self.assertAlmostEqual(m["grouped.native_task_s"], 0.1)
        self.assertEqual(m["exec.jobs"], 0)                  # direct jobs are not the op's
        self.assertEqual(m["grouped.udaf_s"], 0.0)            # not run


class Layers(unittest.TestCase):
    def test_frames_map_to_layers(self):
        cases = {
            "graft.glm.Gram$.normal(Gram.scala:97)": "gram",
            "graft.glm.GLM$.fit(GLM.scala:420)": "glm",
            "graft.glm.GLM$.$anonfun$fit$3(GLM.scala:1)": "glm",
            "graft.glm.GLM$$anonfun$1.apply(GLM.scala:1)": "glm",
            "graft.glm.GLMModel.predict(GLM.scala:99)": "other",
            "graft.glm.SuffStats$.collapse(SuffStats.scala:47)": "suffstats",
            "graft.glm.ModelMatrix$.levels(ModelMatrix.scala:50)": "design",
            "graft.glm.GroupedGLM$.fit(GroupedGLM.scala:500)": "grouped",
            "graft.Checkpointer.checkpointRdd(Checkpointer.scala:130)": "checkpoint",
            "graft.ops.Graph$.labelPropagation(Graph.scala:340)": "graph",
            "graft.ops.Dedup$.run(Dedup.scala:1)": "other",
        }
        for frame, layer in cases.items():
            self.assertEqual(metrics.layer_of(frame, "glm"), layer, frame)

    def test_frameless_job_goes_to_the_op_layer(self):
        self.assertEqual(metrics.layer_of("", "graph"), "graph")


class Contract(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        with open(path) as fh:
            spec = json.load(fh)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(metrics.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(metrics.PER_LAYER))
        for m in spec["end_to_end"] + spec["per_layer"]:
            units = {**metrics.END_TO_END, **metrics.PER_LAYER}
            self.assertEqual(m["unit"], units[m["name"]], m["name"])

    def test_result_line_carries_every_metric(self):
        doc = {"units": 100, "setup_s": 2.0,
               "ops": [_op(0, 0, 500), dict(_op(1, 600, 1000), error="wrong")],
               "jobs": [], "queries": [], "direct": []}
        e2e = metrics.result_line(doc, "glm_factor", trace=0, cpus=4)
        self.assertEqual(set(e2e["metrics"]), set(metrics.END_TO_END))
        self.assertEqual((e2e["correct"], e2e["attempted"], e2e["failed"]), (False, 2, 1))
        self.assertEqual(e2e["metrics"]["setup_s"]["value"], 2.0)
        self.assertEqual(e2e["metrics"]["ok_rate"]["value"], 0.5)
        self.assertAlmostEqual(e2e["metrics"]["rows_per_s"]["value"], 100 / 0.45)
        layered = metrics.result_line(doc, "glm_factor", trace=1, cpus=4)
        self.assertEqual(set(layered["metrics"]), set(metrics.PER_LAYER))
        self.assertLess(len(json.dumps(e2e, separators=(",", ":"))), 1500)


def _op(i, start, end, **info):
    return {"i": i, "traced": True, "start_ms": start, "end_ms": end,
            "wall_s": (end - start) / 1e3, "error": None, "cache_peak_bytes": 1e6,
            "compiles": 2, "compile_ns": 1e6, "info": info}


def _job(op, start, end, frame):
    return {"op": op, "id": start, "start_ms": start, "end_ms": end, "frame": frame,
            "stages": 1, "tasks": 4, "task_ms": 100, "gc_ms": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "cached_bytes": 0}


if __name__ == "__main__":
    unittest.main()
