"""Check query outputs against the registry's DuckDB oracle SQL.

Each output is a parquet directory the harness wrote; the oracle SQL
runs over the same fixture tables. Values are compared by the repo's
correctness gate, `scripts/check.py`: column names sorted, same row
count, equal values row by row, equal dtypes.
"""
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))

from check import TABLES, compare  # noqa: E402


def check(fixture, outputs, oracle_sql):
    """{query: None | reason} for every query in `oracle_sql`."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(fixture, t)}.parquet')")
    result = {}
    for name, sql in oracle_sql.items():
        try:
            got = pd.read_parquet(os.path.join(outputs, name))
            result[name] = compare(got, con.execute(sql).df())
        except Exception as exc:  # a failed read or SQL is a mismatch
            result[name] = f"{type(exc).__name__}: {exc}"[:300]
    con.close()
    return result
