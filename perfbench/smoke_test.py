#!/usr/bin/env python3
"""Smoke test of the layered benchmark at a hundredth of its input sizes.

    python3 perfbench/smoke_test.py          (from the repository root)

Checks that every metric BENCHMARK.json names is printed with its unit,
that a deliberately wrong expected answer is counted as a failed
operation, that the traced runs record spans for all six layers, and that
the benchmark refuses to run without the engine's sources.
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
LAYERS = {"mql", "catalyst", "exec", "scan", "wire", "store"}
WORKLOADS = [w["name"] for w in SPEC["workloads"]] + ["curation"]


def run(workload, trace, *extra, cwd=ROOT):
    p = subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), "--workload", workload, "--seed", "7",
                        "--seconds", "2", "--trace", str(trace), "--small", *extra],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    return p


def result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    detail = json.loads(Path(lines[-2].split("detail: ", 1)[1]).read_text())
    return json.loads(lines[-1]), detail


class Smoke(unittest.TestCase):
    spans = {}

    def check_metrics(self, res, spec):
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertGreaterEqual(res["attempted"], 1)
        for m in spec:
            self.assertIn(m["name"], res["metrics"])
            self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
            self.assertIsInstance(res["metrics"][m["name"]]["value"], (int, float))

    def test_end_to_end_metrics(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res, _ = result(run(w, 0))
                self.assertTrue(res["correct"], res)
                self.assertEqual(res["failed"], 0)
                self.check_metrics(res, SPEC["end_to_end"])
                self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["end_to_end"]})
                for m in res["metrics"].values():
                    self.assertGreater(m["value"], 0)

    def test_per_layer_metrics_and_spans(self):
        seen = set()
        for w in WORKLOADS:
            with self.subTest(workload=w):
                res, detail = result(run(w, 1))
                self.assertTrue(res["correct"], res)
                self.check_metrics(res, SPEC["per_layer"])
                self.assertEqual(set(res["metrics"]), {m["name"] for m in SPEC["per_layer"]})
                self.assertGreater(detail["traced_ops"], 0)
                seen |= {l for l, n in detail["spans_by_layer"].items() if n > 0}
        self.assertTrue(LAYERS <= seen, f"layers without spans: {LAYERS - seen}")

    def test_wrong_answer_is_a_failed_op(self):
        res, detail = result(run("decode_scan", 0, "--inject-wrong", "find_full"))
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"])
        self.assertTrue(any("find_full: expected" in f for f in detail["failures"]))

    def test_refuses_without_engine_sources(self):
        (ROOT / ".bench_build").mkdir(exist_ok=True)
        with tempfile.TemporaryDirectory(dir=ROOT / ".bench_build") as d:
            shutil.copy(ROOT / "BENCHMARK.json", d)
            for f in (ROOT / "perfbench").rglob("*"):
                rel = f.relative_to(ROOT)
                if f.is_file() and "target" not in rel.parts and "project/project" not in str(rel):
                    (Path(d) / rel).parent.mkdir(parents=True, exist_ok=True)
                    shutil.copy(f, Path(d) / rel)
            p = run("decode_scan", 0, cwd=d)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)


if __name__ == "__main__":
    unittest.main(verbosity=2)
