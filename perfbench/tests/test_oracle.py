"""Parsing rendered cli output and comparing it with DuckDB rows.

Run: python3 -m unittest discover -s perfbench/tests
"""
import datetime
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from benchlib import oracle  # noqa: E402

TABLE = """+--------------+--------+----------------+
| l_returnflag | count  | avg_l_quantity |
+--------------+--------+----------------+
| 'A'          | 199547 |             25 |
| 'N'          | 200222 |             25 |
+--------------+--------+----------------+
"""


class ParseTest(unittest.TestCase):
    def test_formats(self):
        self.assertEqual(oracle.parse_output(TABLE, "live_table"),
                         [["'A'", "199547", "25"], ["'N'", "200222", "25"]])
        self.assertEqual(oracle.parse_output('{"a":1,"b":"x"}\n', "json"), [[1, "x"]])
        self.assertEqual(oracle.parse_output("a,b\n1,x\n", "csv"), [["1", "x"]])
        self.assertEqual(
            oracle.parse_output("{+0001-01-01T00:00:00Z| 2024-03-01T03:00:00Z, 'click', 93 |}\n",
                                "stream_native"),
            [["2024-03-01T03:00:00Z", "'click'", "93"]])


class CompareTest(unittest.TestCase):
    def test_equal_multisets_in_any_order(self):
        got = oracle.parse_output(TABLE, "live_table")
        self.assertIsNone(oracle.compare_rows(got, [("N", 200222, 25), ("A", 199547, 25)]))

    def test_a_wrong_value_or_row_count_fails(self):
        got = oracle.parse_output(TABLE, "live_table")
        self.assertIsNotNone(oracle.compare_rows(got, [("A", 199547, 25), ("N", 200223, 25)]))
        self.assertIsNotNone(oracle.compare_rows(got, [("A", 199547, 25)]))
        self.assertIsNotNone(oracle.compare_rows(got, [("A", 199547, 25), ("R", 200222, 25)]))

    def test_floats_within_relative_tolerance_and_timestamps(self):
        ts = datetime.datetime(2024, 3, 1, 3)
        got = [["8.848587950000001e+06", "2024-03-01T03:00:00Z"]]
        self.assertIsNone(oracle.compare_rows(got, [(8848587.949999999, ts)]))
        self.assertIsNotNone(oracle.compare_rows(got, [(8848587.96, ts)]))


if __name__ == "__main__":
    unittest.main()
