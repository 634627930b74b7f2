"""The DuckDB oracle check: equal results pass, any difference fails,
and a cached oracle answer gives the same verdicts as a fresh one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.dont_write_bytecode = True
import oracle  # noqa: E402

SQL = {"q_sum": "SELECT k, CAST(sum(v) AS BIGINT) AS s FROM t GROUP BY k"}


class OracleTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.d = self.dir.name
        pq.write_table(pa.table({"k": ["a", "b", "a"], "v": [1, 2, 3]}), f"{self.d}/t.parquet")

    def tearDown(self):
        self.dir.cleanup()

    def spark_result(self, k, s):
        os.makedirs(f"{self.d}/res/q_sum", exist_ok=True)
        pq.write_table(pa.table({"k": k, "s": pa.array(s, pa.int64())}),
                       f"{self.d}/res/q_sum/part-0.parquet")

    def compare(self):
        return oracle.compare(self.d, ["t"], f"{self.d}/res", SQL, f"{self.d}/cache")["q_sum"]

    def test_equal_passes_fresh_and_cached(self):
        self.spark_result(["b", "a"], [2, 4])
        self.assertIsNone(self.compare())
        self.assertEqual(len(os.listdir(f"{self.d}/cache")), 1)
        self.assertIsNone(self.compare())

    def test_difference_fails_fresh_and_cached(self):
        self.spark_result(["a", "b"], [4, 3])
        self.assertIn("rows differ", self.compare())
        self.assertIn("rows differ", self.compare())

    def test_type_difference_fails(self):
        os.makedirs(f"{self.d}/res/q_sum")
        pq.write_table(pa.table({"k": ["a", "b"], "s": pa.array([4, 2], pa.int32())}),
                       f"{self.d}/res/q_sum/part-0.parquet")
        self.assertIn("types differ", self.compare())

    def test_missing_output_fails(self):
        self.assertEqual(self.compare(), "no spark output")


if __name__ == "__main__":
    unittest.main()
