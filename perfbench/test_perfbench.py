"""Tests of the benchmark's own maths and layer attribution.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Run from the root of a checkout. The last test builds the library and
the harness (perfbench/build.py) and makes a tiny traced run.
"""

import json
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import report  # noqa: E402


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(report.median([3.0]), 3.0)
        self.assertEqual(report.median([5.0, 1.0, 3.0]), 3.0)
        self.assertEqual(report.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            report.median([])

    def test_percentile_interpolates_between_ranks(self):
        xs = [float(x) for x in range(1, 11)]  # 1..10
        self.assertAlmostEqual(report.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(report.percentile(xs, 50), report.median(xs))
        self.assertEqual(report.percentile(xs, 100), 10.0)
        self.assertEqual(report.percentile(xs, 0), 1.0)
        self.assertEqual(report.percentile([7.0], 90), 7.0)

    def test_union_length(self):
        self.assertEqual(report.union_length([]), 0.0)
        self.assertEqual(report.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertEqual(report.union_length([(0, 10), (2, 3)]), 10.0)
        self.assertEqual(report.union_length([(4, 4), (1, 0)]), 0.0)


class AttributionTest(unittest.TestCase):
    def test_frames_map_to_layers(self):
        cases = {
            "graft.ml.DistributedGlmObjective.valueAndGradient"
            "(Objectives.scala:90)": "ml.fixed",
            "graft.ml.CoordinateDescent$.materialize$1"
            "(CoordinateDescent.scala:202)": "ml.descent",
            "graft.ml.CoordinateDescent$GameModel.score"
            "(CoordinateDescent.scala:85)": "ml.score",
            "graft.ml.RandomEffect$.$anonfun$train$7(RandomEffect.scala)":
                "ml.random",
            "graft.ml.Glm$.$anonfun$score$1(Glm.scala)": "ml.score",
            "graft.ml.Evaluators$.curveMetrics(Evaluators.scala:157)":
                "ml.eval",
            "graft.sources.ModelIO$.$anonfun$saveGame$1(ModelIO.scala:60)":
                "sources",
            "graft.operators.Dedup$.minhashIndexBuild(Dedup.scala:385)":
                "operators.dedup",
            "graft.operators.Similarity$.coarseKMeansFit"
            "(Similarity.scala:135)": "operators.ann",
            "graft.functions.TokenCountImpl$.count"
            "(TokenCountExpression.scala)": "functions",
            "graft.util.ExecProfile$.withDerivedShuffle(ExecProfile.scala:40)":
                None,
            "graft.operators.Manifest$.withLock(Manifest.scala:120)": None,
        }
        for frame, layer in cases.items():
            self.assertEqual(report.layer_of_frame(frame), layer, frame)

    def test_first_frame_of_a_layer_wins(self):
        frames = ["graft.operators.Manifest$.withLock(Manifest.scala:1)",
                  "graft.operators.Dedup$.minhashIndexAppend(Dedup.scala:2)",
                  "graft.ml.CoordinateDescent$.train(CoordinateDescent.scala:3)"]
        self.assertEqual(report.first_layer(frames), "operators.dedup")
        self.assertIsNone(report.first_layer([]))

    def test_window_metrics(self):
        # two ml.fixed jobs 100 ms apart inside a descent span, a job with
        # no call-site frame (attributed to its span), and a harness job
        def job(i, start, end, frames, tasks):
            return {"id": i, "start": start, "end": end, "frames": frames,
                    "stages": 1, "tasks": len(tasks), "run_ms": 40,
                    "cpu_ns": 30_000_000, "gc_ms": 1, "shuffle_bytes": 0,
                    "spill_bytes": 0, "input_bytes": 0, "output_bytes": 0,
                    "task_spans": tasks}
        vg = "graft.ml.DistributedGlmObjective.valueAndGradient" \
             "(Objectives.scala:90)"
        jobs = [job(1, 1000, 1050, [vg], [[1010, 1050]]),
                job(2, 1150, 1200, [vg], [[1160, 1200]]),
                job(3, 1300, 1400, [], [[1300, 1400]]),
                job(4, 1600, 1700, [vg], [[1600, 1700]])]
        spans = [{"layer": "ml.descent", "label": "train", "start": 900.0,
                  "end": 1500.0},
                 {"layer": "harness", "label": "check", "start": 1550.0,
                  "end": 1750.0}]
        v = report.window_metrics(jobs, spans, [], [], slots=4)
        self.assertEqual(v["ml.fixed"]["jobs"], 2)
        self.assertEqual(v["ml.fixed"]["evals"], 2)
        self.assertAlmostEqual(v["ml.fixed"]["driver_s"], 0.1)
        self.assertAlmostEqual(v["ml.fixed"]["wall_s"], 0.2)
        self.assertAlmostEqual(v["ml.fixed"]["self_s"], 0.2)
        self.assertEqual(v["ml.descent"]["jobs"], 1)
        self.assertAlmostEqual(v["ml.descent"]["wall_s"], 0.6)
        self.assertAlmostEqual(v["ml.descent"]["self_s"], 0.4)
        self.assertEqual(v["engine"]["jobs"], 3)  # the harness job is out
        self.assertAlmostEqual(v["engine"]["wall_s"], 0.2)
        self.assertAlmostEqual(v["engine"]["self_s"], 0.02)
        self.assertAlmostEqual(v["engine"]["floor_s"], 0.2 - 0.12 / 4)


class TracedRunTest(unittest.TestCase):
    """A tiny traced GAME run: the jobs of each layer the workload calls
    must be attributed to it, and every per-layer metric reported."""

    def test_tiny_traced_run(self):
        bench = os.path.dirname(os.path.abspath(__file__))
        r = subprocess.run(
            [sys.executable, os.path.join(bench, "run.py"),
             "--workload", "game_wide_fixed", "--seed", "7",
             "--seconds", "1", "--trace", "1", "--scale", "0.1",
             "--setup-reps", "1"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=900)
        self.assertEqual(r.returncode, 0)
        # (the AUC floor is set for the full-size inputs, so the tiny
        # run's correctness is not asserted here)
        out = json.loads(r.stdout.strip().splitlines()[-1])
        m = {k: v["value"] for k, v in out["metrics"].items()}
        self.assertEqual(sorted(m), sorted(report.per_layer_names()))
        for layer in ("sources", "ml.fixed", "ml.descent", "ml.eval"):
            self.assertGreater(m[f"{layer}.jobs"], 0, layer)
        self.assertGreater(m["ml.fixed.evals"], 0)
        self.assertGreater(m["ml.random.sampled_s"], 0)
        self.assertGreater(m["ml.descent.checkpoint_mb"], 0)
        self.assertEqual(m["operators.dedup.jobs"], 0)
        self.assertGreaterEqual(m["engine.jobs"], sum(
            m[f"{l}.jobs"] for l in report.LAYERS if l != "engine"))


if __name__ == "__main__":
    unittest.main()
