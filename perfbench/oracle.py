"""Checks each query's result against its DuckDB oracle, with the
comparison rules of tools/check.py: columns sorted by name, rows sorted,
per-column type classes compared first, then every cell exactly."""
import glob
import hashlib
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check  # noqa: E402


def compare(spark_df, duck_df):
    """None when the two results match, else the first difference."""
    s, d = check.canon(spark_df), check.canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"rows {len(s)} vs {len(d)}"
    for col in s.columns:
        sc, dc = check.dtype_class(s[col]), check.dtype_class(d[col])
        if not check.dtypes_compatible(sc, dc):
            return f"column {col}: spark {sc} vs duckdb {dc}"
    for col in s.columns:
        for i, (a, b) in enumerate(zip(s[col].tolist(), d[col].tolist())):
            if not check.cells_equal(a, b):
                return f"column {col} row {i}: spark {a!r} vs duckdb {b!r}"
    return None


def expected(con, sql, data, cache_dir):
    """DuckDB's answer to `sql`, cached by the SQL and the input files:
    the inputs are fixed, and some oracles take tens of seconds."""
    h = hashlib.sha256(sql.encode())
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            h.update(f"{t}:{os.path.getsize(p)}".encode())
    path = os.path.join(cache_dir, h.hexdigest() + ".pkl")
    if os.path.exists(path):
        return pd.read_pickle(path)
    df = con.execute(sql).fetchdf()
    os.makedirs(cache_dir, exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_results(data, run_dir, raw, cache_dir):
    """Map each written result to None (match) or the reason it failed."""
    con = duckdb.connect()
    for t in check.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = {}
    for q in raw["checked"]:
        if q in raw["dump_errors"]:
            out[q] = f"result not written: {raw['dump_errors'][q]}"
            continue
        if q not in raw["oracle_sql"]:
            out[q] = "no oracle"
            continue
        res = os.path.join(run_dir, "results", q)
        if not glob.glob(os.path.join(res, "*.parquet")):
            out[q] = "no result"
            continue
        try:
            out[q] = compare(pq.read_table(res).to_pandas(),
                             expected(con, raw["oracle_sql"][q], data, cache_dir))
        except Exception as e:  # an oracle or read error is a failed check
            out[q] = f"{type(e).__name__}: {e}"
    con.close()
    return out
