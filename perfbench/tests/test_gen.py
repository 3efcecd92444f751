"""Tests for the input generator: a seed only reorders the rows, so
every seed gives the program the same rows and the same work.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
from check import TABLES  # noqa: E402


def rows(t):
    return sorted(map(repr, t.to_pylist()))


class TablesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.a, cls.a2, cls.b = gen.tables(1), gen.tables(1), gen.tables(2)

    def test_every_table(self):
        self.assertEqual(sorted(self.a), sorted(TABLES))

    def test_same_seed_same_tables(self):
        for name in TABLES:
            self.assertTrue(self.a[name].equals(self.a2[name]), name)

    def test_other_seed_same_rows_other_order(self):
        for name in ["documents", "orders", "events"]:
            self.assertFalse(self.a[name].equals(self.b[name]), name)
            self.assertEqual(rows(self.a[name]), rows(self.b[name]), name)
            self.assertEqual(self.a[name].schema, self.b[name].schema, name)


if __name__ == "__main__":
    unittest.main()
