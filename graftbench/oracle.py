"""DuckDB replay of each query_mix member's oracle SQL.

Compares a member's written output with its `QueryDef.oracle` SQL run by
DuckDB over the same generated tables, with the comparison and the
canonical hash of scripts/check_oracle.py: sorted column names, row count,
and a hash of the value matrix with columns sorted by name and rows
sorted canonically.
"""
import glob
import os
import sys

_SCRIPTS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
sys.path.insert(0, _SCRIPTS)
import check_oracle  # noqa: E402  (canon, TABLES)
import duckdb  # noqa: E402
import pandas as pd  # noqa: E402


def compare(got, want):
    """None when the frames agree, else a one-line reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    if check_oracle.canon(got) != check_oracle.canon(want):
        return "values differ from the oracle"
    return None


def check(data_dir, out_dir, members):
    """{member id: reason} for every member whose output is wrong or
    missing. `members` holds {"id", "sql"} entries; a member without SQL
    must not occur (every query_mix member declares an oracle)."""
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    wrong = {}
    for m in members:
        name, sql = m["id"], m["sql"]
        if sql is None:
            wrong[name] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
        if not files:
            wrong[name] = "no output written"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            reason = compare(got, con.sql(sql).df())
        except Exception as e:  # an oracle that cannot run judges nothing
            reason = f"oracle SQL failed: {e}"
        if reason:
            wrong[name] = reason
    con.close()
    return wrong
