#!/usr/bin/env python3
"""The benchmark's own tests (stdlib unittest; about 10 minutes):

    python3 perfbench/selfcheck.py

- for a fixed seed, `jobs` and `wcc_jobs` of every span repeat exactly
  across the traced passes of a run and across two runs, nothing runs
  outside a span, and every pass matches the oracle;
- without the program sources the command fails without a result line.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402

SEED = 11


def bench(workload, trace, cwd=ROOT, seconds=1):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(SEED),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout.strip().splitlines()


class Contract(unittest.TestCase):
    def test_fails_without_program_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            code, out = bench("elt_build", 0, cwd=d)
            self.assertNotEqual(code, 0)
            self.assertEqual(out, [])


class Counts(unittest.TestCase):
    def check_workload(self, workload):
        spans = run.WORKLOADS[workload]["spans"]
        runs = []
        for _ in range(2):
            code, out = bench(workload, 1)
            self.assertEqual(code, 0)
            result = json.loads(out[-1])
            self.assertTrue(result["correct"])
            self.assertEqual(result["failed"], 0)
            runs.append({k: v["value"] for k, v in result["metrics"].items()})
        for m in runs:
            self.assertEqual(m["trace.count_mismatch"], 0)
            self.assertEqual(m["trace.unattributed_jobs"], 0)
            self.assertLess(m["trace.unattributed_s"], 0.5)
            for s in spans:
                self.assertGreater(m[f"{s}.jobs"], 0)
        for s in spans:
            for c in ("jobs", "wcc_jobs"):
                key = f"{s}.{c}"
                if key in runs[0]:
                    self.assertEqual(runs[0][key], runs[1][key], key)

    def test_elt_build_counts_repeat(self):
        self.check_workload("elt_build")

    def test_corpus_rebuild_counts_repeat(self):
        self.check_workload("corpus_rebuild")

    def test_graph_fixpoint_counts_repeat(self):
        self.check_workload("graph_fixpoint")


if __name__ == "__main__":
    unittest.main(verbosity=2)
