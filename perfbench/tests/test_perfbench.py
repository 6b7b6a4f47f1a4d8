"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The last test runs the harness end to end (it builds on first use) and
takes a few minutes.
"""
import json
import os
import re
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run  # noqa: E402


def _digest(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        gen.GENERATORS[workload](seed, d)
        return gen.digest(d)


class Generators(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                self.assertEqual(_digest(w, 7), _digest(w, 7))
                self.assertNotEqual(_digest(w, 7), _digest(w, 8))

    def test_corpus_keeps_sf01_value_domains(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            gen.corpus(3, d)
            docs = pq.read_table(f"{d}/documents.parquet").to_pydict()
            vecs = pq.read_table(f"{d}/embeddings.parquet").to_pydict()
        words = {w for t in docs["text"] for w in t.split()}
        self.assertEqual(words, set(gen.VOCAB) | {"dup"})
        self.assertEqual(set(docs["lang"]), set(gen.LANGS))
        self.assertEqual(len(set(docs["source"])), 20)
        dups = [t for t in docs["text"] if t.endswith(" dup")]
        self.assertTrue(0.03 < len(dups) / len(docs["text"]) < 0.07)
        base = set(docs["text"])
        self.assertTrue(all(t[:-len(" dup")] in base for t in dups))
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
        self.assertEqual({len(v) for v in vecs["embedding"]}, {64})
        self.assertEqual(set(vecs["label"]), set(range(10)))

    def test_pipeline_expectations_match_the_csv(self):
        rows = gen.pipeline_games(5)
        exp = gen.expected_pipeline()
        self.assertEqual(len({r[0] for r in rows}), exp["seasons"])
        self.assertEqual(2 * len(rows), exp["gold_rows"])
        self.assertTrue(all(r[3] > r[5] and r[2] != r[4] for r in rows))


class MixOrder(unittest.TestCase):
    def test_seed_fixes_the_order(self):
        self.assertEqual(run.mix_order(1), run.mix_order(1))
        self.assertNotEqual(run.mix_order(1), run.mix_order(2))
        self.assertEqual(sorted(run.mix_order(1)), sorted(run.MIX))

    def test_every_layer_has_a_query(self):
        self.assertEqual({layer for _, layer in run.MIX}, set(run.QUERY_LAYERS))


class Arithmetic(unittest.TestCase):
    def test_percentile(self):
        self.assertEqual(run.percentile([3.0], 90), 3.0)
        self.assertEqual(run.percentile([4.0, 1.0, 3.0, 2.0], 50), 2.5)
        self.assertAlmostEqual(run.percentile(list(range(11)), 90), 9.0)
        self.assertAlmostEqual(run.percentile([1.0, 2.0], 90), 1.9)
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_error_rate(self):
        self.assertEqual(run.error_rate(0, 40), 0.0)
        self.assertEqual(run.error_rate(1, 4), 0.25)
        self.assertEqual(run.error_rate(0, 0), 1.0)


def _mix_result(trace):
    def runs(scale):
        return [{"name": n, "layer": layer, "s": scale * (i + 1), "error": None}
                for i, (n, layer) in enumerate(run.MIX)]
    counters = {k: 1.0 for k in ("spark.jobs", "spark.tasks", "spark.task_s", "spark.sched_delay_s",
                                 "spark.core_util", "spark.shuffle_write_mb", "spark.spill_mb",
                                 "spark.gc_s")}
    traced = [{"runs": runs(0.11), "spine_builds": 1, "counters": counters}]
    return {"cold": runs(0.3), "passes": [runs(0.1), runs(0.12)],
            "traced": traced if trace else []}


def _pipeline_result(trace):
    counters = _mix_result(True)["traced"][0]["counters"]
    it = {"s": 4.0, "job_ms": [10, 20, 30], "failures": []}
    tr = {"s": 4.2, "stages": {s: 0.5 for s in run.PIPELINE_STAGES}, "counters": counters,
          "folds": 2, "write_bytes": 3_000_000, "write_files": 40, "failures": []}
    return {"cold_s": 9.0, "iterations": [it, it], "traced": [tr] if trace else [],
            "cold_failures": [], "input_bytes": 1_000_000}


# metrics run.run() adds to every workload's own
COMMON = {"setup_s", "peak_rss_mb", "spark.codegen_compile_s", "jvm.jit_s", "error_rate"}


class MetricNames(unittest.TestCase):
    def setUp(self):
        self.spec = run.spec()

    def names(self, key):
        return {d["name"] for d in self.spec[key]}

    def test_end_to_end_metrics_come_from_every_workload(self):
        e2e = self.names("end_to_end")
        _, _, mix = run.mix_metrics(_mix_result(False), {}, False)
        _, _, pipe = run.pipeline_metrics(_pipeline_result(False), False)
        self.assertEqual(e2e, set(mix) | (COMMON & e2e))
        self.assertEqual(e2e, set(pipe) | (COMMON & e2e))

    def test_per_layer_metrics_come_from_some_workload(self):
        _, _, mix = run.mix_metrics(_mix_result(True), {}, True)
        _, _, pipe = run.pipeline_metrics(_pipeline_result(True), True)
        produced = set(mix) | set(pipe) | (COMMON - self.names("end_to_end"))
        self.assertEqual(self.names("per_layer"), produced)

    def test_failures_count(self):
        res = _mix_result(False)
        res["passes"][0][0]["error"] = "boom"
        attempted, failed, _ = run.mix_metrics(res, {"q": "value mismatch", "r": None}, False)
        self.assertEqual((attempted, failed), (3 * len(run.MIX) + 2, 2))

    def test_spec_follows_the_contract(self):
        s = self.spec
        self.assertEqual(set(s), {"command", "paths", "run_seconds", "workloads", "end_to_end",
                                  "per_layer"})
        self.assertEqual({w["name"] for w in s["workloads"]}, set(gen.GENERATORS))
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        all_names = [d["name"] for k in ("workloads", "end_to_end", "per_layer") for d in s[k]]
        self.assertEqual(len(all_names), len(set(all_names)))
        self.assertTrue(all(name.match(n) for n in all_names))
        for d in s["end_to_end"]:
            self.assertEqual(set(d), {"name", "unit", "better", "bound"})
            self.assertLessEqual(d["bound"], 0.25)
        setup = [d for d in s["end_to_end"] if d["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"], max(d["bound"] for d in s["end_to_end"]))


class EndToEnd(unittest.TestCase):
    """Runs the traced pipeline: its gold and submission digests must equal
    the untraced PipelineRunner.run's, and every check must pass."""

    def test_traced_pipeline_matches_untraced(self):
        p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "pipeline",
                            "--seed", "11", "--seconds", "1", "--trace", "1"],
                           cwd=HERE.parent, stdout=subprocess.PIPE, text=True, timeout=1200)
        self.assertEqual(p.returncode, 0)
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertTrue(out["correct"])
        self.assertEqual(out["failed"], 0)
        self.assertEqual(out["metrics"]["error_rate"]["value"], 0.0)
        self.assertEqual(out["metrics"]["ml.backtest_folds"]["value"], gen.BACKTEST_FOLDS)


if __name__ == "__main__":
    unittest.main()
