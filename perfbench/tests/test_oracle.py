"""Row comparison of the metric_queries DuckDB check."""
import datetime
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import oracle  # noqa: E402


class RowsEqualTest(unittest.TestCase):
    def test_order_does_not_matter(self):
        ok, _ = oracle.rows_equal([["b", 2], ["a", 1]], [("a", 1), ("b", 2)])
        self.assertTrue(ok)

    def test_floats_match_to_a_relative_tolerance(self):
        self.assertTrue(oracle.rows_equal([[0.1 + 0.2]], [(0.3,)])[0])
        self.assertFalse(oracle.rows_equal([[0.3001]], [(0.3,)])[0])

    def test_duckdb_types_are_canonicalised(self):
        got = [["2024-03-01 10:00:00", "2024-03-01", 2.5, None]]
        exp = [(datetime.datetime(2024, 3, 1, 10), datetime.date(2024, 3, 1),
                decimal.Decimal("2.50"), None)]
        self.assertTrue(oracle.rows_equal(got, exp)[0])

    def test_row_count_and_values_must_match(self):
        self.assertFalse(oracle.rows_equal([[1]], [(1,), (2,)])[0])
        self.assertFalse(oracle.rows_equal([["x", 1]], [("x", 2)])[0])
        self.assertFalse(oracle.rows_equal([[True]], [(1,)])[0])
        self.assertFalse(oracle.rows_equal([[None]], [(0,)])[0])


if __name__ == "__main__":
    unittest.main()
