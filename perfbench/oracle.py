"""Checks each query's written result against its DuckDB oracle SQL on
the same fixture, canonicalised as `tools/compare.py` does: columns
sorted by name, rows sorted by their string values, cells compared as
strings.
"""
import glob
import os

import duckdb

from fixture import TABLES


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True,
                          key=lambda s: s.astype(str))


def compare(got, want):
    """None when equal, else a one-line reason."""
    if list(got.columns) != list(want.columns):
        return f"SCHEMA {list(got.columns)} vs {list(want.columns)}"
    if len(got) != len(want):
        return f"ROWS {len(got)} vs {len(want)}"
    diff = got.astype(str) != want.astype(str)
    n = int(diff.values.sum())
    if n:
        r, c = next(zip(*diff.values.nonzero()))
        return (f"CELLS {n} differ; first at row {r} col {got.columns[c]}: "
                f"{got.iat[r, c]!r} vs {want.iat[r, c]!r}")
    return None


def check(fixture_dir, results_dir, oracle_sql):
    """Map each query name to None (match) or the reason it failed."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(fixture_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS FROM '{path}'")
    out = {}
    for name in sorted(oracle_sql):
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            out[name] = "MISSING result"
            continue
        try:
            got = canon(con.execute(f"FROM read_parquet({files!r})").fetchdf())
            want = canon(con.execute(oracle_sql[name]).fetchdf())
            out[name] = compare(got, want)
        except Exception as e:  # a failing oracle or unreadable result
            out[name] = f"ERROR {type(e).__name__}: {str(e).splitlines()[0][:200]}"
    return out

