"""Compare board results with their DuckDB oracle SQL (`SparkEntry.oracleSql`).

The compare rules mirror the repo's tools/check_oracle.py: columns sorted by
name, rows sorted, integer widths widened to int64, then an exact frame
compare with dtypes checked.
"""
import glob
import os

import duckdb
import pandas as pd


def connect(data_dir, threads):
    con = duckdb.connect()
    con.sql(f"SET threads TO {int(threads)}")
    con.sql("SET enable_progress_bar = false")
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.sql(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM '{p}'")
    return con


def compare(con, sql, result_dir):
    """None when the Spark parquet under `result_dir` equals the oracle's rows,
    else a one-line reason."""
    if not glob.glob(os.path.join(result_dir, "*.parquet")):
        return "no spark output"
    try:
        o = con.sql(sql).df()
        s = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df()
    except Exception as e:  # a failing oracle is a failed check, not a crash
        return f"query error: {e}"
    o, s = o[sorted(o.columns)], s[sorted(s.columns)]
    if list(o.columns) != list(s.columns):
        return f"schema: oracle={list(o.columns)} spark={list(s.columns)}"
    if len(o) != len(s):
        return f"rows: oracle={len(o)} spark={len(s)}"
    o = o.sort_values(by=list(o.columns)).reset_index(drop=True)
    s = s.sort_values(by=list(s.columns)).reset_index(drop=True)
    for df in (o, s):
        for c in df.columns:
            if df[c].dtype.kind in "iu":
                df[c] = df[c].astype("int64")
    try:
        pd.testing.assert_frame_equal(o, s, check_dtype=True, check_exact=True)
    except AssertionError as e:
        return str(e).replace("\n", " ")[:300]
    return None
