"""Tests for the output check: each oracle is compared with every check
pass's output, and a missing or differing output is reported per pass.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from check import TABLES, mismatches  # noqa: E402


class MismatchesTest(unittest.TestCase):
    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.root = self._tmp.name
        self.data = os.path.join(self.root, "data")
        self.check = os.path.join(self.root, "check")
        os.makedirs(self.data)
        os.makedirs(self.check)
        for t in TABLES:
            pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(self.data, f"{t}.parquet"))
        with open(os.path.join(self.check, "oracle_sql.json"), "w") as fh:
            json.dump({"qa": "SELECT max(k) * 2 AS s FROM orders",
                       "qb": "SELECT k, k / 3 AS third FROM part"}, fh)

    def tearDown(self):
        self._tmp.cleanup()

    def output(self, run, query, table):
        os.makedirs(os.path.join(self.check, run, query))
        pq.write_table(table, os.path.join(self.check, run, query, "part-0.parquet"))

    def test_all_match(self):
        for run in ("cold", "warm"):
            self.output(run, "qa", pa.table({"s": pa.array([6], pa.int64())}))
            self.output(run, "qb", pa.table({"third": [1 / 3, 2 / 3, 1.0], "k": [1, 2, 3]}))
        bad = mismatches(self.data, self.check, ["cold", "warm"], ["qa", "qb"], self.root)
        self.assertEqual(bad, {"cold": {}, "warm": {}})

    def test_reported_per_pass(self):
        self.output("cold", "qa", pa.table({"s": pa.array([6], pa.int64())}))
        self.output("warm", "qa", pa.table({"s": pa.array([7], pa.int64())}))
        self.output("cold", "qb", pa.table({"k": [1, 2]}))
        bad = mismatches(self.data, self.check, ["cold", "warm"], ["qa", "qb"], self.root)
        self.assertEqual(set(bad["cold"]), {"qb"})
        self.assertTrue(bad["cold"]["qb"].startswith("columns"))
        self.assertEqual(bad["warm"], {"qa": "1/1 rows differ", "qb": "no output"})

    def test_floats_compared_bit_exact(self):
        self.output("cold", "qb", pa.table({"k": [1, 2, 3], "third": [1 / 3, 2 / 3, 1.0000000000000002]}))
        bad = mismatches(self.data, self.check, ["cold"], ["qb"], self.root)
        self.assertEqual(bad, {"cold": {"qb": "1/3 rows differ"}})

    def test_unknown_query(self):
        bad = mismatches(self.data, self.check, ["cold"], ["qz"], self.root)
        self.assertEqual(bad, {"cold": {"qz": "no oracle sql"}})


if __name__ == "__main__":
    unittest.main()
