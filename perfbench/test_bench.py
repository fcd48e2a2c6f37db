#!/usr/bin/env python3
"""The benchmark's own tests. Each starts real runs, so the whole file
takes about ten minutes on a 4-core host:

    python3 perfbench/test_bench.py

- a corrupted expected output drives ok_frac below 1 and `correct` false,
  and in curation_batch's traced run a corrupted store manifest count
  makes the run incorrect;
- two traced runs of one seed report identical per-op job, stage and task
  counts, identical store job counts and identical stored bytes per input
  byte;
- in a directory holding only BENCHMARK.json and perfbench/, the command
  fails without printing a result.
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
WORKLOADS = ["crime_daily", "curation_batch"]
COUNTERS = ["spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
            "stored_bytes_per_input_byte"]
STORE_COUNTERS = [f"store.{s}.{m}" for s in ("dedup", "embed", "substring", "cms")
                  for m in ("jobs_per_append", "jobs_per_fold", "folds")]


def run(workload, seed, trace=0, extra=(), cwd=ROOT):
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", "4",
         "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, lines


def result(lines):
    return json.loads(lines[-1])


class Bench(unittest.TestCase):

    def test_corrupted_expected_output_lowers_ok_frac(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                rc, lines = run(w, 7, extra=["--corrupt-expected"])
                self.assertEqual(rc, 0)
                r = result(lines)
                self.assertFalse(r["correct"])
                self.assertLess(r["metrics"]["ok_frac"]["value"], 1.0)
                self.assertGreater(r["failed"], 0)
        with self.subTest(workload="curation_batch", trace=1):
            rc, lines = run("curation_batch", 7, trace=1,
                            extra=["--corrupt-expected"])
            self.assertEqual(rc, 0)
            r = result(lines)
            self.assertFalse(r["correct"])
            self.assertGreater(r["failed"], 0)

    def test_traced_counters_repeat_for_one_seed(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                runs = [result(run(w, 5, trace=1)[1]) for _ in range(2)]
                for r in runs:
                    self.assertTrue(r["correct"])
                names = COUNTERS + (STORE_COUNTERS
                                    if w == "curation_batch" else [])
                for n in names:
                    a, b = (r["metrics"][n]["value"] for r in runs)
                    self.assertEqual(a, b, n)
                    self.assertGreater(a, 0, n)

    def test_fails_without_the_program(self):
        bare = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            rc, lines = run("crime_daily", 1, cwd=bare)
            self.assertNotEqual(rc, 0)
            self.assertFalse(any(l.startswith('{"correct"') for l in lines))
        finally:
            shutil.rmtree(bare)


if __name__ == "__main__":
    unittest.main(verbosity=2)
