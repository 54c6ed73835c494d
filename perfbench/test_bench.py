"""Tests of the benchmark's own tracing and failure accounting.

    python3 -m unittest perfbench/test_bench.py

Each test starts the real benchmark on a short budget (about a minute per
run after the first build).
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
LAYERS = ["session", "entry", "plans", "exec", "sources", "fa"]


def bench(*args, cwd=ROOT, script=os.path.join(HERE, "run.py")):
    p = subprocess.run([sys.executable, script, "--seconds", "1", *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, last


def result(workload):
    with open(os.path.join(WORK, f"run-{workload}", "result.json")) as f:
        return json.load(f)


class TraceTest(unittest.TestCase):

    def check_trace(self, workload):
        code, out = bench("--workload", workload, "--trace", "1")
        self.assertEqual(code, 0, out)
        self.assertTrue(out["correct"])
        m = out["metrics"]
        self.assertGreater(m["trace.overhead_ratio"]["value"], 0)
        res = result(workload)
        # every span belongs to a layer, so the layers' self times plus the
        # unattributed rest make up the traced wall
        for name in res["trace_spans"]:
            self.assertIn(name.split(".")[0], LAYERS, name)
        reps = res["trace_reps"]
        self.assertGreaterEqual(len(reps), 2)
        for r in reps:
            self.assertLess(r["trace.unattributed_ms"], 0.05 * r["trace.wall_ms"])
        return m

    def test_query_trace_adds_up(self):
        m = self.check_trace("iter_loops")
        self.assertGreater(m["entry.build_ms"]["value"], m["exec.exec_ms"]["value"])
        self.assertEqual(m["sources.unzip_bytes"]["value"], 0)

    def test_pipeline_trace_adds_up(self):
        m = self.check_trace("fa_etl")
        for stage in ["Deed", "ranked_Deed", "Prop", "TaxHist", "ValHist",
                      "ranked_ValHist", "unified"]:
            self.assertGreater(m[f"fa.{stage}.ms"]["value"], 0, stage)
            self.assertGreater(m[f"fa.{stage}.rows"]["value"], 0, stage)
        self.assertGreater(m["sources.csv_records_read"]["value"], 0)
        self.assertGreater(m["sources.unzip_bytes"]["value"], 0)


class FailureTest(unittest.TestCase):

    def test_failing_query_is_counted_not_timed(self):
        code, out = bench("--workload", "iter_loops", "--inject-failure")
        self.assertNotEqual(code, 0)
        self.assertFalse(out["correct"])
        self.assertGreater(out["failed"], 0)
        # every pass holds the failing query, so no pass yields a time
        self.assertNotIn("wall_s", out["metrics"])
        self.assertLess(out["metrics"]["ok_ratio"]["value"], 1)

    def test_failing_pipeline_run_is_counted_not_timed(self):
        code, out = bench("--workload", "fa_etl", "--inject-failure")
        self.assertNotEqual(code, 0)
        self.assertEqual(out["failed"], 1)
        r = result("fa_etl")
        # attempted = the cold run and the timed runs, of which the first
        # fails and gives no sample
        self.assertEqual(len(r["walls"]), out["attempted"] - 2)

    def test_refuses_without_sources(self):
        bare = os.path.join(WORK, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "project"))
        code, out = bench("--workload", "fa_etl", cwd=bare,
                          script=os.path.join(bare, "perfbench", "run.py"))
        shutil.rmtree(bare)
        self.assertNotEqual(code, 0)
        self.assertIsNone(out)


if __name__ == "__main__":
    unittest.main()
