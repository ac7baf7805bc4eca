"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

The JVM self-test (seeded staging is byte-identical, the tail-percentile
rule, the planted dedup structure) runs through `run.py --self-test` and
needs the Spark distribution the build uses.
"""

import json
import re
import shutil
import subprocess
import tempfile
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
METRIC = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
PATH = re.compile(r"[A-Za-z0-9_./-]{1,200}")


class ContractTest(unittest.TestCase):

    def setUp(self):
        self.bench = json.loads((ROOT / "BENCHMARK.json").read_text())

    def test_shape_and_limits(self):
        b = self.bench
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertLessEqual(len((ROOT / "BENCHMARK.json").read_bytes()), 64 * 1024)
        self.assertTrue(1 <= len(b["paths"]) <= 16)
        for p in b["paths"]:
            self.assertRegex(p, PATH)
            self.assertFalse(p.startswith("/") or ".." in p.split("/"))
        self.assertTrue(len(b["command"]) <= 32 and all(len(c) <= 200 for c in b["command"]))
        self.assertIsInstance(b["run_seconds"], int)
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["per_layer"]:
            self.assertEqual(set(m), {"name", "unit", "better"})
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in b[k]]
        self.assertEqual(len(names), len(set(names)))
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["name"], METRIC)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("higher", "lower"))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual([(m["unit"], m["better"]) for m in setup], [("s", "lower")])


class ScalaLintTest(unittest.TestCase):
    """The engine's LintSpec rules, applied to the benchmark's Scala sources."""

    MARKERS = ("?" * 3, "TO" + "DO", "FIX" + "ME", "XX" + "X:")

    def test_scala_sources(self):
        files = sorted((BENCH / "scala").rglob("*.scala"))
        self.assertTrue(files)
        for f in files:
            text = f.read_text()
            self.assertTrue(any(ln.startswith("package graft") for ln in text.splitlines()), f)
            self.assertTrue(text.endswith("\n"), f)
            self.assertNotIn("\t", text, f)
            self.assertNotIn("\r", text, f)
            for i, ln in enumerate(text.splitlines(), 1):
                self.assertLessEqual(len(ln), 120, f"{f}:{i}")
                self.assertFalse(ln.endswith(" "), f"{f}:{i}")
            for m in self.MARKERS:
                self.assertNotIn(m, text, f)


class RunTest(unittest.TestCase):

    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            shutil.copytree(BENCH, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("__pycache__"))
            p = subprocess.run(["python3", "perfbench/run.py", "--workload", "batch-small-pages",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)

    def test_jvm_self_test(self):
        p = subprocess.run(["python3", "perfbench/run.py", "--self-test"], cwd=ROOT,
                           capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        self.assertIn("self-test passed", p.stdout)


if __name__ == "__main__":
    unittest.main()
