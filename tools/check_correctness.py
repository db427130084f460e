#!/usr/bin/env python3
"""Local replica of the driver's correctness gate.

Usage: python3 tools/check_correctness.py <sf_dir> <verify_out_dir>

Reads each <verify_out_dir>/<name> parquet written by graft.Verify, runs
the corresponding SQL from oracle_sql.json in DuckDB against the same
testdata tables, and compares (rows sorted, columns sorted by name,
values normalized). A dump with no oracle (rows-only), an oracle with no
dump and no `_errors.json` entry, and a recorded crash each count as FAIL;
the exit status is non-zero on any FAIL. Dev tool only — the engine itself
is pure Scala.
"""
import json
import math
import sys
from pathlib import Path

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        # decimals -> float-ish strings are fragile; compare as strings of
        # normalized Decimal, floats rounded to 9 sig figs
        def norm(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return "NULL"
            import decimal
            if isinstance(v, decimal.Decimal):
                v = float(v)
            if isinstance(v, float):
                return f"{v:.17g}"
            return str(v)
        df[c] = df[c].map(norm)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.loads(Path(out_dir, "oracle_sql.json").read_text())
    n_pass = n_fail = n_rows_only = 0
    # Queries that crashed during the dump are recorded by Verify in
    # _errors.json (and Verify exits non-zero). Count each as a FAIL so
    # a shrunken dump can never read as a clean gate (the round-11 trap).
    err_path = Path(out_dir, "_errors.json")
    crashed = json.loads(err_path.read_text()) if err_path.exists() else {}
    for name, msg in sorted(crashed.items()):
        print(f"FAIL  {name:28s} crashed during dump: {msg[:120]}")
        n_fail += 1
    dumped = sorted(p.name for p in Path(out_dir).iterdir() if p.is_dir())
    # An oracle with neither a dump nor a recorded crash means the dump
    # shrank silently: FAIL, never an omission.
    for name in sorted(set(oracle) - set(dumped) - set(crashed)):
        print(f"FAIL  {name:28s} has an oracle but no dump")
        n_fail += 1
    for name in dumped:
        spark_df = pd.read_parquet(Path(out_dir, name))
        if name not in oracle:
            # every registered query carries an oracle: a dump without
            # one is a FAIL, not a skip
            print(f"FAIL  {name:28s} rows={len(spark_df)} rows-only (no oracle)")
            n_fail += 1
            n_rows_only += 1
            continue
        try:
            duck_df = con.execute(oracle[name]).df()
        except Exception as e:
            print(f"FAIL  {name:28s} oracle SQL error: {e}")
            n_fail += 1
            continue
        # Dtype gate first: the driver hashes raw values, so int64 `5` vs
        # float64 `5.0` (e.g. DuckDB sum(BIGINT) -> HUGEINT -> float64) must
        # FAIL here too, even though %.17g would collapse them below.
        dtype_mismatch = None
        if sorted(spark_df.columns) == sorted(duck_df.columns):
            for c in sorted(spark_df.columns):
                ka = spark_df[c].dtype.kind
                kb = duck_df[c].dtype.kind
                # treat int/uint as one family; object (strings/decimals) skips
                fam = lambda k: "i" if k in "iu" else k
                if fam(ka) != fam(kb) and "O" not in (ka, kb):
                    dtype_mismatch = (c, str(spark_df[c].dtype), str(duck_df[c].dtype))
                    break
        if dtype_mismatch is not None:
            c, da, db = dtype_mismatch
            print(f"FAIL  {name:28s} dtype mismatch on '{c}': spark={da} vs duck={db}")
            n_fail += 1
            continue
        a, b = normalize(spark_df), normalize(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name:28s} columns {list(a.columns)} vs {list(b.columns)}")
            n_fail += 1
        elif len(a) != len(b):
            print(f"FAIL  {name:28s} rows {len(a)} vs {len(b)}")
            n_fail += 1
        elif not a.equals(b):
            diff = (a != b).any(axis=1)
            if diff.any():
                i = diff[diff].index[0]
                print(f"FAIL  {name:28s} first diff row {i}:\n  spark={a.loc[i].to_dict()}\n  duck ={b.loc[i].to_dict()}")
            else:
                print(f"FAIL  {name:28s} dtype-level mismatch (values equal as strings?)")
            n_fail += 1
        else:
            print(f"PASS  {name:28s} rows={len(a)}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail ({n_rows_only} of them rows-only)")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
