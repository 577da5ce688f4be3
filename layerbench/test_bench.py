#!/usr/bin/env python3
"""The benchmark's own tests.

    python3 layerbench/test_bench.py

Checks that BENCHMARK.json is well formed, and runs every op of every
workload once on the sf0.001 tables, untraced and traced. Each smoke run
checks every op's result digest, and run.py refuses a run whose printed
metrics differ from the ones BENCHMARK.json declares.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


class SpecTest(unittest.TestCase):
    def test_metrics_have_names_and_units(self):
        metrics = SPEC["end_to_end"] + SPEC["per_layer"]
        names = [m["name"] for m in metrics]
        self.assertEqual(len(names), len(set(names)))
        for m in metrics:
            self.assertRegex(m["name"], NAME)
            self.assertRegex(m["unit"], UNIT)
            self.assertIn(m["better"], ("lower", "higher"))

    def test_setup_has_the_largest_bound(self):
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))


class SmokeTest(unittest.TestCase):
    def smoke(self, workload, trace):
        proc = subprocess.run(
            [sys.executable, str(ROOT / "layerbench" / "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "1", "--trace", trace, "--smoke"],
            cwd=ROOT, capture_output=True, text=True)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        return result

    def test_every_workload(self):
        for w in SPEC["workloads"]:
            for trace in ("0", "1"):
                with self.subTest(workload=w["name"], trace=trace):
                    self.smoke(w["name"], trace)


if __name__ == "__main__":
    unittest.main()
