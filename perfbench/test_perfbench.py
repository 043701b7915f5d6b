"""The benchmark's own tests, on the `stream` workload's small input.

Run from the checkout root (builds the harness on first use; ~3 min):

    python3 -m unittest perfbench/test_perfbench.py

They check that every metric BENCHMARK.json names is emitted with its
unit, that build + plan + exec add up to each query's wall time, that a
planted wrong expected digest turns into a failed operation, that the
generator and the oracle comparison behave, and that the benchmark
refuses to run without the library sources.
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

import gen  # noqa: E402
import oracle  # noqa: E402

SCRATCH = os.path.join(ROOT, ".bench_build")


def run_bench(*args, cwd=ROOT):
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", "stream", "--seed", "7", "--seconds", "1", *args],
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True, timeout=600)
    return r


def last_json(stdout):
    return json.loads(stdout.strip().splitlines()[-1])


def latest_result():
    runs = os.path.join(ROOT, ".bench_build", "perfbench", "runs")
    path = max((os.path.join(runs, d, "result.json") for d in os.listdir(runs)
                if os.path.exists(os.path.join(runs, d, "result.json"))),
               key=os.path.getmtime)
    with open(path) as f:
        return json.load(f)


class BenchmarkRuns(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)
        r = run_bench("--trace", "0")
        assert r.returncode == 0, r.stderr[-3000:]
        cls.untraced = last_json(r.stdout)
        cls.untraced_result = latest_result()
        r = run_bench("--trace", "1", "--plant-wrong-digest", "stream_dedup")
        assert r.returncode == 0, r.stderr[-3000:]
        cls.planted = last_json(r.stdout)
        cls.planted_result = latest_result()

    def assert_metrics(self, out, spec):
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        want = {m["name"]: m["unit"] for m in spec}
        self.assertEqual(got, want)
        for k, v in out["metrics"].items():
            self.assertIsInstance(v["value"], (int, float), k)

    def test_end_to_end_metrics_emitted_with_units(self):
        self.assert_metrics(self.untraced, self.spec["end_to_end"])
        self.assertEqual(set(self.untraced), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(self.untraced["correct"])
        self.assertEqual(self.untraced["failed"], 0)
        self.assertGreaterEqual(self.untraced["attempted"], 6)

    def test_per_layer_metrics_emitted_with_units(self):
        self.assert_metrics(self.planted, self.spec["per_layer"])

    def test_spans_add_up_to_query_wall(self):
        for res in (self.untraced_result, self.planted_result):
            for p in res["report"]["passes"]:
                for q in p["queries"]:
                    spans = q["build_s"] + q["plan_s"] + q["exec_s"]
                    self.assertLessEqual(abs(spans - q["wall_s"]), 0.05 * q["wall_s"],
                                         (p["pass"], q["name"]))

    def test_every_output_is_checked_by_the_oracle(self):
        ctx = self.untraced_result["context"]
        self.assertEqual(ctx["oracle_unchecked"], [])
        self.assertEqual(len(ctx["oracle_checked"]), 3)

    def test_planted_wrong_digest_fails_the_operation(self):
        self.assertFalse(self.planted["correct"])
        self.assertGreaterEqual(self.planted["failed"], 1)
        failures = self.planted_result["context"]["failures"]
        self.assertTrue(failures)
        self.assertEqual({f["query"] for f in failures}, {"stream_dedup"})
        self.assertTrue(all(f["pass"] > 0 for f in failures))


class Generator(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            def digest(seed, sub):
                out = os.path.join(d, sub)
                gen.generate(out, seed, 0.02)
                blobs = []
                for t in sorted(os.listdir(out)):
                    with open(os.path.join(out, t), "rb") as f:
                        blobs.append(f.read())
                return blobs
            a, b, c = digest(3, "a"), digest(3, "b"), digest(4, "c")
            self.assertEqual(a, b)
            self.assertNotEqual(a, c)
            self.assertEqual(len(a), len(oracle.TABLES))


class OracleCompare(unittest.TestCase):
    def test_compare(self):
        got = (["b", "a"], {"a": "int", "b": "str"}, [("x", 1), ("y", 2)])
        same = (["a", "b"], {"a": "int", "b": "str"}, [(2, "y"), (1, "x")])
        self.assertEqual(oracle.compare(got, same), [])
        wrong = (["a", "b"], {"a": "int", "b": "str"}, [(2, "y"), (1, "z")])
        self.assertTrue(oracle.compare(got, wrong))
        short = (["a", "b"], {"a": "int", "b": "str"}, [(1, "x")])
        self.assertTrue(oracle.compare(got, short))
        typed = (["a", "b"], {"a": "float", "b": "str"}, [(2.0, "y"), (1.0, "x")])
        self.assertTrue(oracle.compare(got, typed))


class Refusal(unittest.TestCase):
    def test_fails_without_library_sources(self):
        os.makedirs(SCRATCH, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=SCRATCH) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "mta",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)


if __name__ == "__main__":
    unittest.main()
