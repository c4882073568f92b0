"""Tests of the Verify-tree differ: python3 -m unittest discover tools"""
import os
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

import diff_verify


def write(root, query, table):
    d = os.path.join(root, query)
    os.makedirs(d)
    pq.write_table(table, os.path.join(d, "part-00000.parquet"))


class DiffVerifyTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.a = os.path.join(self.tmp.name, "a")
        self.b = os.path.join(self.tmp.name, "b")
        os.makedirs(self.a)
        os.makedirs(self.b)
        # a non-query file the trees also hold, which is not compared
        for root in (self.a, self.b):
            with open(os.path.join(root, "oracle_sql.json"), "w") as f:
                f.write("{}")

    def tearDown(self):
        self.tmp.cleanup()

    def test_identical_trees_in_another_row_order_pass(self):
        write(self.a, "q1", pa.table({"id": [1, 2, None], "x": [0.5, None, 2.0]}))
        write(self.b, "q1", pa.table({"id": [None, 2, 1], "x": [2.0, None, 0.5]}))
        self.assertEqual(diff_verify.compare(self.a, self.b), ({}, [], [], 1))
        self.assertEqual(diff_verify.main(["diff_verify.py", self.a, self.b]), 0)

    def test_a_changed_value_is_a_difference(self):
        write(self.a, "q1", pa.table({"id": [1, 2], "x": ["u", "v"]}))
        write(self.b, "q1", pa.table({"id": [1, 2], "x": ["u", "w"]}))
        differing, _, _, _ = diff_verify.compare(self.a, self.b)
        self.assertEqual(list(differing), ["q1"])
        self.assertIn("values differ", differing["q1"])
        self.assertEqual(diff_verify.main(["diff_verify.py", self.a, self.b]), 1)

    def test_a_duplicated_row_is_a_difference(self):
        write(self.a, "q1", pa.table({"id": [1, 1, 2]}))
        write(self.b, "q1", pa.table({"id": [1, 2, 2]}))
        differing, _, _, _ = diff_verify.compare(self.a, self.b)
        self.assertIn("values differ", differing["q1"])

    def test_a_changed_schema_is_a_difference(self):
        write(self.a, "q1", pa.table({"id": pa.array([1, 2], pa.int64())}))
        write(self.b, "q1", pa.table({"id": pa.array([1, 2], pa.int32())}))
        differing, _, _, _ = diff_verify.compare(self.a, self.b)
        self.assertIn("schema differs", differing["q1"])
        self.assertEqual(diff_verify.main(["diff_verify.py", self.a, self.b]), 1)

    def test_missing_query_dirs_are_reported_per_side(self):
        write(self.a, "q1", pa.table({"id": [1]}))
        write(self.b, "q1", pa.table({"id": [1]}))
        write(self.a, "q2", pa.table({"id": [2]}))
        write(self.b, "q3", pa.table({"id": [3]}))
        self.assertEqual(diff_verify.compare(self.a, self.b), ({}, ["q2"], ["q3"], 1))
        self.assertEqual(diff_verify.main(["diff_verify.py", self.a, self.b]), 1)


if __name__ == "__main__":
    unittest.main()
