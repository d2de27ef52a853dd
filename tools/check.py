#!/usr/bin/env python3
"""Local differential checker mimicking the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <outDir>
Reads each <outDir>/<name>/ parquet result + <outDir>/oracle_sql.json,
runs the oracle in DuckDB over <sfDir>'s tables, sorts columns by name and
rows by value, and compares cell-by-cell (exact, with float bit-equality).

Type-strict (since r10): the driver hashes TYPED values, so `359` (int64)
vs `359.0` (float64) is a driver FAIL even though Python's `==` passes.
This checker now compares per-column dtype classes first and fails on any
int-vs-float (or Decimal-vs-float, etc.) pair, with a "missing bigint
cast?" hint — the class of bug that shipped d21/d48 red in round 9.

pandas reads an integral column that holds a NULL as float64 (NaN for the
NULL) on both sides, so its dtype alone cannot tell int from double there;
such a column is classed by its declared type instead (the parquet schema
on the Spark side, the result type on the DuckDB side).
"""
import sys, os, json, glob
import duckdb
import numbers
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pandas as pd
import math
from decimal import Decimal

TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort", ignore_index=True)
    return df

def cells_equal(a, b):
    if a is None and b is None: return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b): return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b): return True
    except (TypeError, ValueError):
        pass
    return a == b

def dtype_class(series):
    """Collapse a column to a coarse type class for strict comparison.

    int-vs-float must FAIL (the driver's typed hash distinguishes them);
    within-class width differences (int32 vs int64) are tolerated because
    both sides' values still hash equal after the driver's canonicalization.
    """
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt): return "bool"
    if pd.api.types.is_integer_dtype(dt): return "int"
    if pd.api.types.is_float_dtype(dt): return "float"
    if pd.api.types.is_datetime64_any_dtype(dt): return "timestamp"
    # object columns: classify by the first non-null value
    for v in series:
        if v is None: continue
        try:
            if pd.isna(v): continue
        except (TypeError, ValueError):
            pass
        # numbers.Integral/Real (not bare int/float): numpy scalars inside
        # object columns (np.int64, np.float64) are NOT Python int/float,
        # so bare-isinstance checks misclassified them and the strict dtype
        # gate could spuriously fail (ADVICE r10). bool is Integral — keep
        # it first (np.bool_ is not, hence the explicit pair).
        if isinstance(v, (bool, np.bool_)): return "bool"
        if isinstance(v, Decimal): return "decimal"
        if isinstance(v, numbers.Integral): return "int"
        if isinstance(v, numbers.Real): return "float"
        if isinstance(v, str): return "str"
        if isinstance(v, (bytes, bytearray)): return "binary"
        return type(v).__name__
    return "all-null"

INT_SQL_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT"}

def duck_int_columns(con, sql):
    """Names of the integral columns of the oracle's result (bound, not run)."""
    try:
        rel = con.sql(sql)
        return {c for c, t in zip(rel.columns, rel.types) if str(t) in INT_SQL_TYPES}
    except Exception:
        return set()

def dtypes_compatible(sc, dc):
    if sc == dc: return True
    if "all-null" in (sc, dc): return True
    return False

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted(oracles):
        sql = oracles[name]
        res_dir = f"{out_dir}/{name}"
        files = glob.glob(f"{res_dir}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark result");  n_fail += 1; continue
        try:
            spark_tbl = pq.read_table(res_dir)
            spark_df = spark_tbl.to_pandas()
            spark_ints = {f.name for f in spark_tbl.schema if pa.types.is_integer(f.type)}
        except Exception as e:
            print(f"FAIL {name}: read error {e}"); n_fail += 1; continue
        try:
            duck_df = con.execute(sql).fetchdf()
            duck_ints = duck_int_columns(con, sql)
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}"); n_fail += 1; continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns {list(s.columns)} vs {list(d.columns)}")
            n_fail += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows {len(s)} vs {len(d)}"); n_fail += 1; continue
        type_bad = None
        for col in s.columns:
            sc, dc = dtype_class(s[col]), dtype_class(d[col])
            if sc == "float" and col in spark_ints: sc = "int"
            if dc == "float" and col in duck_ints: dc = "int"
            if not dtypes_compatible(sc, dc):
                hint = ""
                if {sc, dc} <= {"int", "float", "decimal"}:
                    hint = " (missing cast(... AS bigint) / AS double bridge?)"
                type_bad = f"col={col}: spark={sc}({s[col].dtype}) duck={dc}({d[col].dtype}){hint}"
                break
        if type_bad:
            print(f"FAIL {name}: dtype mismatch {type_bad}")
            n_fail += 1; continue
        bad = None
        for col in s.columns:
            sv, dv = s[col].tolist(), d[col].tolist()
            for i, (a, b) in enumerate(zip(sv, dv)):
                if not cells_equal(a, b):
                    bad = (col, i, a, b); break
            if bad: break
        if bad:
            col, i, a, b = bad
            print(f"FAIL {name}: cell mismatch col={col} row={i}: spark={a!r} duck={b!r}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
