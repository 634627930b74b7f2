"""BENCHMARK.json names exactly the metrics run.py reports.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
import run  # noqa: E402

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())


class ContractTest(unittest.TestCase):
    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["end_to_end"]}, run.E2E_UNITS)

    def test_per_layer_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in SPEC["per_layer"]}, run.per_layer_units())

    def test_workloads(self):
        self.assertEqual(tuple(w["name"] for w in SPEC["workloads"]), run.WORKLOADS)

    def test_per_layer_queries_match_the_run_list(self):
        named = {m["name"][len("queries."):-len("_s")] for m in SPEC["per_layer"]
                 if m["name"].startswith("queries.q_") and m["name"].endswith("_s")}
        self.assertEqual(named, set(run.QUERIES))


if __name__ == "__main__":
    unittest.main()
