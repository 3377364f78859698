"""Self-tests of the benchmark: generator determinism, the percentile
reporting rule, the refusal to run without the engine sources, and a
smoke-size run of every workload, untraced and traced.

    python3 -m unittest perfbench/test_perfbench.py     # from the repo root

The smoke runs build the engine on first use and take a few minutes.
"""
import sys

sys.dont_write_bytecode = True

import filecmp
import json
import os
import shutil
import subprocess
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build", "perfbench", "selftest")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)
        os.makedirs(SCRATCH)

    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def check(self, make, **shape):
        a, b, c = (os.path.join(SCRATCH, x) for x in "abc")
        ta = make(a, 7, **shape)
        tb = make(b, 7, **shape)
        make(c, 8, **shape)
        self.assertEqual(ta, tb)
        self.assertTrue(same_tree(a, b), "same seed, different inputs")
        self.assertFalse(same_tree(a, c), "different seeds, same inputs")
        return ta

    def test_backfill_deterministic(self):
        t = self.check(gen.make_backfill, **run.SMOKE_SHAPES["backfill"])
        self.assertLess(t["expected_rows"], t["raw_rows"])
        self.assertEqual(len(t["bad_files"]), 2)

    def test_increment_deterministic(self):
        t = self.check(gen.make_increment, **run.SMOKE_SHAPES["daily_increment"])
        self.assertLess(t["expected_rows"], t["raw_rows"])

    def test_history_ignores_seed(self):
        a, b = os.path.join(SCRATCH, "a"), os.path.join(SCRATCH, "b")
        gen.make_history(a, 2, 2)
        gen.make_history(b, 2, 2)
        self.assertTrue(same_tree(a, b))

    def test_corpus_deterministic(self):
        t = self.check(gen.make_corpus, **run.SMOKE_SHAPES["curate_corpus"])
        self.assertEqual(len(t["exact_copy_ids"]), 10)
        self.assertEqual(t["input_docs"], 220)


class PercentileRuleTest(unittest.TestCase):

    def test_median_needs_ten_beyond(self):
        self.assertEqual(run.percentile_with_tail(list(range(20)), 0.5), 9.5)
        self.assertIsNone(run.percentile_with_tail(list(range(19)), 0.5))

    def test_p90_needs_ten_beyond(self):
        self.assertIsNotNone(run.percentile_with_tail(list(range(100)), 0.9))
        self.assertIsNone(run.percentile_with_tail(list(range(90)), 0.9))

    def test_empty(self):
        self.assertIsNone(run.percentile_with_tail([], 0.5))


def bench(*args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


class RefusalTest(unittest.TestCase):

    def test_fails_without_engine_sources(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "project", "__pycache__"))
            p = bench("--workload", "backfill", "--seed", "1", "--seconds", "1",
                      "--trace", "0", cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(d)


class SmokeTest(unittest.TestCase):

    def smoke(self, workload, trace):
        p = bench("--workload", workload, "--seed", "3", "--seconds", "1",
                  "--trace", str(trace), "--smoke")
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        out = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(out["correct"], p.stdout)
        self.assertEqual(out["failed"], 0)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        want = spec["per_layer" if trace else "end_to_end"]
        self.assertEqual(set(out["metrics"]), {m["name"] for m in want})
        for m in want:
            v = out["metrics"][m["name"]]
            self.assertIsInstance(v["value"], (int, float), m["name"])
            self.assertEqual(v["unit"], m["unit"])
            if not trace:
                self.assertGreater(v["value"], 0, m["name"])
        return out["metrics"]

    def test_backfill(self):
        self.smoke("backfill", 0)
        m = self.smoke("backfill", 1)
        self.assertEqual(m["ingest.files_rejected"]["value"], 2)
        self.assertGreater(m["trace.coverage"]["value"], 0.95)

    def test_daily_increment(self):
        self.smoke("daily_increment", 0)
        m = self.smoke("daily_increment", 1)
        self.assertEqual(m["ingest.files_probed"]["value"], 1)
        self.assertGreater(m["rows_lost"]["value"], 0)  # the UTC+05:30 overwrite loss
        self.assertGreater(m["read.plan_ms"]["value"], 0)

    def test_curate_corpus(self):
        self.smoke("curate_corpus", 0)
        m = self.smoke("curate_corpus", 1)
        self.assertGreater(m["curate.near_pairs"]["value"], 0)
        self.assertGreater(m["trace.coverage"]["value"], 0.95)


if __name__ == "__main__":
    unittest.main()
