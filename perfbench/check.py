"""Output check for query ops: each output against its DuckDB oracle SQL.

The canonical form is the one `tools/check.py` compares: columns sorted
by name, every cell stringified (floats by repr), rows sorted.
"""
import glob
import json
import os

import duckdb
import pandas as pd

import gen

# oracle results are only comparable on the DuckDB version they were
# written against
EXPECTED_DUCKDB = "1.0.0"


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NA or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def queries(inputs, out):
    """Names of the queries whose output differs from the oracle's (a
    missing output counts as different)."""
    if duckdb.__version__ != EXPECTED_DUCKDB:
        raise SystemExit(f"check.py: duckdb {duckdb.__version__} != {EXPECTED_DUCKDB}")
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    with open(f"{out}/oracle_sql.json") as f:
        oracle = json.load(f)
    wrong = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out}/outputs/{name}/*.parquet")
        if not files:
            wrong.append(name)
            continue
        got = canon(pd.concat([pd.read_parquet(p) for p in files]))
        exp = canon(con.execute(sql).fetchdf())
        if list(got.columns) != list(exp.columns) or not got.equals(exp):
            wrong.append(name)
    con.close()
    return wrong
