"""The oracle check must pass a correct result and fail a wrong one.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fixture  # noqa: E402
import oracle  # noqa: E402

SQL = ("SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS nations "
       "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey")


class OracleTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        fixture.make("sf0.001", 1.0, 3, cls.data)
        nation = pq.read_table(os.path.join(cls.data, "nation.parquet")).to_pandas()
        cls.right = (nation.groupby("n_regionkey").size()
                     .rename("nations").reset_index().astype("int64"))

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def check(self, frame):
        results = os.path.join(self.tmp.name, "results")
        os.makedirs(os.path.join(results, "q"), exist_ok=True)
        # Rows written out of order: the check must not depend on it.
        frame = frame.iloc[::-1]
        pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                       os.path.join(results, "q", "part-0.parquet"))
        return oracle.check(self.data, results, {"q": SQL})["q"]

    def test_correct_result_passes(self):
        self.assertIsNone(self.check(self.right))

    def test_wrong_cell_fails(self):
        wrong = self.right.copy()
        wrong.loc[0, "nations"] += 1
        self.assertTrue(self.check(wrong).startswith("CELLS"))

    def test_missing_row_fails(self):
        self.assertTrue(self.check(self.right.iloc[1:]).startswith("ROWS"))

    def test_renamed_column_fails(self):
        renamed = self.right.rename(columns={"nations": "n"})
        self.assertTrue(self.check(renamed).startswith("SCHEMA"))

    def test_missing_result_fails(self):
        empty = os.path.join(self.tmp.name, "empty")
        os.makedirs(empty, exist_ok=True)
        self.assertTrue(oracle.check(self.data, empty, {"q": SQL})["q"].startswith("MISSING"))


if __name__ == "__main__":
    unittest.main()
