"""Tiny-scale smoke of the benchmark (scale 0.001, a few seconds a run).

    python3 pipebench/smoke_test.py          # from the repository root

Runs both workloads untraced and traced at two seeds, checks that every
metric of BENCHMARK.json is printed with its unit and that the traced
run writes spans for every layer, and checks the negative cases: an
altered expected value must fail the run, and a directory holding only
the benchmark (no engine sources) must exit non-zero without a result.
"""

import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)
LAYERS = ("pipeline.webhook", "pipeline.ingest", "pipeline.etl",
          "pipeline.table", "pipeline.queries")


def bench(workload, seed, trace=0, extra=(), cwd=ROOT):
    res = subprocess.run(
        [sys.executable, os.path.join(cwd, "pipebench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "3", "--trace", str(trace),
         "--scale", "0.001", *extra],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=400)
    lines = res.stdout.strip().splitlines()
    return res.returncode, (json.loads(lines[-1]) if lines else None), res.stderr


class Smoke(unittest.TestCase):
    def assert_metrics(self, out, specs):
        self.assertEqual(sorted(out["metrics"]), sorted(m["name"] for m in specs))
        for m in specs:
            self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])

    def test_untraced_runs_pass_their_oracle_at_two_seeds(self):
        for workload in ("telegram_day", "ops"):
            for seed in (1, 2):
                code, out, err = bench(workload, seed)
                self.assertEqual(code, 0, err[-2000:])
                self.assertTrue(out["correct"])
                self.assertGreater(out["attempted"], 0)
                self.assertEqual(out["failed"], 0)
                self.assert_metrics(out, BENCH["end_to_end"])
                self.assertTrue(all(v["value"] > 0 for v in out["metrics"].values()))

    def test_traced_runs_report_layers_and_write_spans(self):
        for workload, names in (("telegram_day", LAYERS),
                                ("ops", ("q151_pagerank", "q33_sessionization",
                                         "q117_bm25_index"))):
            code, out, err = bench(workload, 3, trace=1)
            self.assertEqual(code, 0, err[-2000:])
            self.assertTrue(out["correct"])
            self.assert_metrics(out, BENCH["per_layer"])
            with open(os.path.join(ROOT, ".bench_build", "traces",
                                   f"{workload}-3.spans.json")) as fh:
                spans = json.load(fh)
            layer_names = {s["name"] for s in spans if s["kind"] == "layer"}
            self.assertTrue(set(names) <= layer_names, layer_names)
            self.assertTrue(any(s["kind"] == "job" and s["parent"] != -1 for s in spans))

    def test_an_altered_expected_value_fails_the_check(self):
        for workload in ("telegram_day", "ops"):
            code, out, _ = bench(workload, 1, extra=("--break-oracle",))
            self.assertNotEqual(code, 0)
            self.assertFalse(out["correct"])
            self.assertGreater(out["failed"], 0)

    def test_without_engine_sources_it_fails_without_a_result(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "pipebench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, out, _ = bench("ops", 1, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertIsNone(out)


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    unittest.main(verbosity=2)
