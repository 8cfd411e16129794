#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python tools/check.py <sfDir> <verifyOutDir> [names]

Reads each <verifyOutDir>/<name> (Spark parquet dir) and the oracle SQL
from <verifyOutDir>/oracle_sql.json, runs the SQL in DuckDB against the
sfDir parquet tables, and compares: columns sorted by name, rows sorted
by all columns, exact value equality (floats bit-exact; report near
misses separately).

Dev-only tool (duckdb/pandas are driver-side deps, not library deps).
"""
import glob
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify unhashable cells (lists/arrays) so sorting works
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: str(v.tolist()) if hasattr(v, "tolist")
                              else str(v) if isinstance(v, (list, dict)) else v)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def cmp_cell(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    try:
        if pd.isna(a) and pd.isna(b):
            return True
    except (TypeError, ValueError):
        pass
    return a == b


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    if only is not None:
        oracles = {k: v for k, v in oracles.items() if k in only}

    failures = 0
    # rows-only check for queries that (by design) ship no oracle SQL
    all_outputs = {p.split("/")[-1] for p in glob.glob(f"{out_dir}/q*") if "." not in p.split("/")[-1]}
    if only is not None:
        all_outputs = only
    for name in sorted(all_outputs - set(oracles)):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        n = sum(len(pd.read_parquet(p)) for p in files) if files else 0
        if n > 0:
            print(f"OK   {name}: {n} rows (rows-only)")
        else:
            print(f"FAIL {name}: no rows (rows-only)")
            failures += 1
    for name in sorted(oracles):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            failures += 1
            continue
        spark_df = normalize(pd.concat([pd.read_parquet(p) for p in files]))
        try:
            duck_df = normalize(con.execute(oracles[name]).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            failures += 1
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
            failures += 1
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}")
            failures += 1
            continue
        # dtype-kind parity: the driver hash-compares formatted values, so
        # a DuckDB HUGEINT (-> float64/object in pandas) vs Spark int64
        # mismatches there ("5.0" vs "5") even when Python == says equal.
        # int32 vs int64 is fine (both format as "5").
        dt = [(c, str(spark_df[c].dtype), str(duck_df[c].dtype))
              for c in spark_df.columns
              if spark_df[c].dtype.kind != duck_df[c].dtype.kind]
        if dt:
            print(f"FAIL {name}: dtype mismatch {dt}")
            failures += 1
            continue
        bad = []
        for c in spark_df.columns:
            for i, (a, b) in enumerate(zip(spark_df[c], duck_df[c])):
                if not cmp_cell(a, b):
                    bad.append((c, i, a, b))
                    if len(bad) >= 5:
                        break
            if len(bad) >= 5:
                break
        if bad:
            print(f"FAIL {name}: {len(bad)}+ cell diffs, e.g. {bad[:3]}")
            failures += 1
        else:
            print(f"OK   {name}: {len(spark_df)} rows")
    print(f"\n{len(oracles) - failures}/{len(oracles)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
