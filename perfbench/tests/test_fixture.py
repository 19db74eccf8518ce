"""The fixture generator is deterministic per seed and key-consistent.

Run: python3 -m unittest discover -s perfbench/tests
"""
import os
import pathlib
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import fixture  # noqa: E402


def read_all(d):
    return {t: pathlib.Path(d, f"{t}.parquet").read_bytes() for t in fixture.TABLES}


class FixtureTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 5), ("b", 5), ("c", 6)):
            cls.dirs[name] = os.path.join(cls.tmp.name, name)
            fixture.make("sf0.001", 0.5, seed, cls.dirs[name])

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_same_bytes(self):
        self.assertEqual(read_all(self.dirs["a"]), read_all(self.dirs["b"]))

    def test_other_seed_other_sample(self):
        self.assertNotEqual(read_all(self.dirs["a"])["orders"],
                            read_all(self.dirs["c"])["orders"])

    def test_keys_stay_consistent(self):
        con = duckdb.connect()
        d = self.dirs["a"]
        src = fixture.source_dir("sf0.001")

        def one(sql):
            return con.execute(sql).fetchone()[0]
        # Every kept order keeps all its lines, and no line lost its order.
        self.assertEqual(one(f"""
            SELECT COUNT(*) FROM '{src}/lineitem.parquet'
            WHERE l_orderkey IN (SELECT o_orderkey FROM '{d}/orders.parquet')"""),
            one(f"SELECT COUNT(*) FROM '{d}/lineitem.parquet'"))
        self.assertEqual(0, one(f"""
            SELECT COUNT(*) FROM '{d}/lineitem.parquet'
            WHERE l_orderkey NOT IN (SELECT o_orderkey FROM '{d}/orders.parquet')"""))
        # A kept user keeps every event.
        self.assertEqual(0, one(f"""
            SELECT COUNT(*) FROM (
              SELECT user_id, COUNT(*) FROM '{src}/events.parquet'
              WHERE user_id IN (SELECT user_id FROM '{d}/events.parquet')
              GROUP BY user_id
              EXCEPT SELECT user_id, COUNT(*) FROM '{d}/events.parquet' GROUP BY user_id)"""))
        # A kept document keeps the embedding with the same id.
        self.assertEqual(0, one(f"""
            SELECT COUNT(*) FROM '{src}/embeddings.parquet'
            WHERE vec_id IN (SELECT doc_id FROM '{d}/documents.parquet')
              AND vec_id NOT IN (SELECT vec_id FROM '{d}/embeddings.parquet')"""))
        # Dimensions are whole, and the sample is neither empty nor full.
        self.assertEqual(one(f"SELECT COUNT(*) FROM '{src}/part.parquet'"),
                         one(f"SELECT COUNT(*) FROM '{d}/part.parquet'"))
        kept = one(f"SELECT COUNT(*) FROM '{d}/orders.parquet'")
        self.assertTrue(0 < kept < one(f"SELECT COUNT(*) FROM '{src}/orders.parquet'"))

    def test_head_keys_always_kept(self):
        con = duckdb.connect()
        src = fixture.source_dir("sf0.001")
        for name in ("a", "c"):
            d = self.dirs[name]
            for table, col in (("embeddings", "vec_id"), ("documents", "doc_id"),
                               ("orders", "o_orderkey")):
                sql = (f"SELECT COUNT(DISTINCT {col}) FROM '{{}}/{table}.parquet' "
                       f"WHERE {col} < {fixture.HEAD_KEYS}")
                self.assertEqual(con.execute(sql.format(src)).fetchone()[0],
                                 con.execute(sql.format(d)).fetchone()[0], (name, table))

    def test_sample_size_does_not_depend_on_seed(self):
        src = fixture.source_dir("sf0.1")
        sizes = {seed: {k: len(v) for k, v in fixture.kept_keys(src, seed, 0.1).items()}
                 for seed in (1, 2, 3)}
        self.assertEqual(sizes[1], sizes[2])
        self.assertEqual(sizes[1], sizes[3])


if __name__ == "__main__":
    unittest.main()
