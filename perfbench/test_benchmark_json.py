"""BENCHMARK.json declares exactly the metrics run.py prints, within the
limits of the benchmark format.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import re
import unittest

import run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.b = json.load(f)

    def test_metrics_match_the_harness(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.b["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in self.b["workloads"]], list(run.WORKLOADS))

    def test_limits(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [x["name"] for k in ("workloads", "end_to_end", "per_layer") for x in b[k]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(NAME.match(n) for n in names))
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"]))
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertTrue(UNIT.match(m["unit"]))
            self.assertIn(m["better"], ("higher", "lower"))
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in b["end_to_end"]))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual((setup[0]["unit"], setup[0]["better"]), ("s", "lower"))
        self.assertEqual(setup[0]["bound"], max(m["bound"] for m in b["end_to_end"]))
        self.assertTrue(1 <= b["run_seconds"] <= 60)


if __name__ == "__main__":
    unittest.main()
