"""The benchmark's own tests, on the tiny sf0.001 smoke corpus.

Run from the repository root:  python3 -m unittest perfbench/test_smoke.py
The first test run builds the program (a few minutes); later runs reuse
the build.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".bench_build", "test")
sys.path.insert(0, HERE)
import gen  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, trace, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "2", "--trace", str(trace), "--smoke"],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables(self):
        a, b, c = (os.path.join(SCRATCH, x) for x in ("gen-a", "gen-b", "gen-c"))
        for d, seed in ((a, 3), (b, 3), (c, 4)):
            shutil.rmtree(d, ignore_errors=True)
            gen.generate(d, seed, 0.001)
        for t in ("events", "lineitem", "documents", "embeddings"):
            with open(os.path.join(a, f"{t}.parquet"), "rb") as fa, \
                    open(os.path.join(b, f"{t}.parquet"), "rb") as fb, \
                    open(os.path.join(c, f"{t}.parquet"), "rb") as fc:
                da, db, dc = fa.read(), fb.read(), fc.read()
            self.assertEqual(da, db, t)
            self.assertNotEqual(da, dc, t)


class RunnerTest(unittest.TestCase):
    def check_result(self, p, names):
        self.assertEqual(p.returncode, 0, p.stdout[-2000:] + p.stderr[-2000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(last["correct"])
        self.assertGreaterEqual(last["attempted"], 1)
        self.assertEqual(set(last["metrics"]), set(names))
        for m in last["metrics"].values():
            self.assertEqual(set(m), {"value", "unit"})

    def test_live_untraced(self):
        self.check_result(run("live", 0), [m["name"] for m in spec()["end_to_end"]])

    def test_queries_traced(self):
        self.check_result(run("queries", 1), [m["name"] for m in spec()["per_layer"]])

    def test_refuses_a_directory_without_the_program(self):
        bare = os.path.join(SCRATCH, "bare")
        shutil.rmtree(bare, ignore_errors=True)
        os.makedirs(bare)
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "live", "--seed", "1",
                            "--seconds", "1", "--trace", "0"], cwd=bare,
                           capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
