"""Smoke run of the benchmark at its tiny input size.

Every workload builds, runs, passes its correctness gate and ends with
the one-line JSON summary that BENCHMARK.json promises. Run from the
repository root (it takes a few minutes, most of it JVM set-up):

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import pathlib
import subprocess
import sys
import unittest

ROOT = pathlib.Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
LISTED = [w["name"] for w in BENCH["workloads"]]
ALL = ["graph_load_deep", "graph_load_wide", "live_sink", "curation_mix"]


def run(workload, trace):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p, (p.stdout.strip().splitlines() or [""])[-1]


class Smoke(unittest.TestCase):

    def check(self, workload, trace):
        p, line = run(workload, trace)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertLess(len(line), 2000)
        d = json.loads(line)
        self.assertEqual(set(d), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(d["correct"])
        self.assertEqual(d["failed"], 0)
        self.assertGreaterEqual(d["attempted"], 1)
        if workload in LISTED:
            want = {m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]}
            self.assertEqual(set(d["metrics"]), want)
        for name, m in d["metrics"].items():
            self.assertIsInstance(m["value"], (int, float), name)
            if not trace:
                self.assertGreater(m["value"], 0, name)

    def test_untraced(self):
        for w in ALL:
            with self.subTest(workload=w):
                self.check(w, 0)

    def test_traced(self):
        for w in LISTED:
            with self.subTest(workload=w):
                self.check(w, 1)

    def test_fails_without_the_library(self):
        """In a directory holding only the benchmark, the command fails
        without printing a result."""
        import shutil
        import tempfile
        scratch = ROOT / "perfbench" / "work"
        scratch.mkdir(parents=True, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=scratch) as d:
            d = pathlib.Path(d)
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(ROOT / "perfbench", d / "perfbench",
                            ignore=shutil.ignore_patterns("work", "results", "target"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", LISTED[0], "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
