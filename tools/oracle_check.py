#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/oracle_check.py <sf_dir> <verify_out_dir>

Runs each oracle_sql.json entry in DuckDB over the fixture parquet
(registered as views named after the tables), loads the Spark result
parquet, sorts columns by name, and compares row counts, schemas
(column-name sets) and values.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")

def _same(a, b):
    try:
        return a == b or (pd.isna(a) and pd.isna(b))
    except Exception:
        return str(a) == str(b)

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
for name, sql in sorted(oracle.items()):
    spark_dir = f"{out_dir}/{name}"
    if not os.path.isdir(spark_dir):
        print(f"FAIL {name}: no spark output"); fails += 1; continue
    try:
        d = con.execute(sql).fetchdf()
    except Exception as e:
        print(f"FAIL {name}: oracle SQL error: {e}"); fails += 1; continue
    s = pd.concat([pd.read_parquet(f) for f in sorted(glob.glob(f"{spark_dir}/*.parquet"))]) \
        if glob.glob(f"{spark_dir}/*.parquet") else pd.DataFrame()
    if sorted(d.columns) != sorted(s.columns):
        print(f"FAIL {name}: schema  duck={sorted(d.columns)} spark={sorted(s.columns)}")
        fails += 1; continue
    if len(d) != len(s):
        print(f"FAIL {name}: rows duck={len(d)} spark={len(s)}"); fails += 1; continue
    d = d[sorted(d.columns)].reset_index(drop=True)
    s = s[sorted(s.columns)].reset_index(drop=True)
    bad = None
    for c in d.columns:
        dv, sv = d[c], s[c]
        if str(dv.dtype).startswith("datetime") or str(sv.dtype).startswith("datetime"):
            dv = pd.to_datetime(dv).dt.tz_localize(None).astype("datetime64[us]")
            sv = pd.to_datetime(sv).dt.tz_localize(None).astype("datetime64[us]")
            eq = dv.equals(sv)
        elif dv.dtype.kind == "f" or sv.dtype.kind == "f":
            close = (dv - sv).abs() < 1e-6 * (1 + dv.abs())
            eq = (close | (dv.isna() & sv.isna())).all()
        else:
            eq = dv.astype(str).fillna("\0").equals(sv.astype(str).fillna("\0"))
        if not eq:
            i = next(j for j in range(len(dv)) if not _same(dv.iloc[j], sv.iloc[j]))
            bad = (c, i, dv.iloc[i], sv.iloc[i]); break
    if bad:
        c, i, a, b = bad
        print(f"FAIL {name}: col {c} row {i}: duck={a!r} spark={b!r}"); fails += 1
    else:
        print(f"OK   {name}: {len(d)} rows")

# close before exit: tearing DuckDB's threads down while they still run
# can abort the interpreter (exit 134) after every line printed OK
con.close()
sys.exit(1 if fails else 0)
