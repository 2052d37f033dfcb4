"""Correctness gate: every op's output is hash-compared against the DuckDB
oracle SQL registered for its query, evaluated over the same generated
inputs. The comparison law is the engine's standing oracle check: equal
row count, equal column names, and equal MD5 over column-name-sorted,
row-sorted, stringified values.
"""
import glob
import hashlib
import os

import duckdb
import pandas as pd

TABLES = ["nation", "customer", "orders", "lineitem", "documents",
          "embeddings"]

# The pipeline oracle is registered for one fixed day; a backfill day
# substitutes its own date.
PIPELINE_DAY = "DATE '2024-01-05'"


def canon(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        return repr(v) if isinstance(v, float) else str(v)

    rows = sorted(tuple(cell(v) for v in row)
                  for row in df.itertuples(index=False))
    h = hashlib.md5()
    for r in rows:
        h.update(("\x1f".join(r) + "\x1e").encode())
    return h.hexdigest()


def fingerprint(df: pd.DataFrame):
    return len(df), tuple(sorted(df.columns)), canon(df)


class Oracle:
    def __init__(self, input_dir, oracles, tmp_dir):
        self.oracles = oracles
        self.cache = {}
        self.con = duckdb.connect()
        self.con.sql("SET TimeZone = 'UTC'")
        self.con.sql(f"SET temp_directory = '{tmp_dir}'")
        self.con.sql("SET threads = 4")
        for t in TABLES:
            p = os.path.join(input_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        days = os.path.join(input_dir, "src", "*", "*", "*", "part-*.parquet")
        if glob.glob(days):  # a backfill's events are its day files
            self.con.sql(f"CREATE VIEW events AS SELECT * FROM '{days}'")

    def expected(self, query, day=None):
        key = (query, day)
        if key not in self.cache:
            sql = self.oracles[query]
            if day is not None:
                assert PIPELINE_DAY in sql, "pipeline oracle lost its day"
                sql = sql.replace(PIPELINE_DAY, f"DATE '{day}'")
            self.cache[key] = fingerprint(self.con.sql(sql).df())
        return self.cache[key]

    def check(self, query, out_dir, day=None):
        """None when the output matches, else a one-line reason."""
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no output files"
        got = fingerprint(pd.concat([pd.read_parquet(f) for f in files]))
        want = self.expected(query, day)
        if got == want:
            return None
        return (f"rows {got[0]} vs oracle {want[0]}, "
                f"cols match {got[1] == want[1]}, hash match {got[2] == want[2]}")
