#!/usr/bin/env python3
"""Local replica of the driver's DuckDB-oracle correctness check.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

For each gate named in oracle_sql.json or holding a result dir under
verifyOutDir: load the Spark parquet result, run the matching oracle SQL in
DuckDB over the same testdata tables, sort columns by name and rows by all
columns, and compare values. A gate with an oracle but no result dir (Verify
skips a gate that throws) and a result with no oracle both count as failures.
"""
import json
import math
import sys

import duckdb
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    # normalize numpy/py scalars and timestamps to str as last resort
    if a == b:
        return True
    return str(a) == str(b)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    failures = 0
    import glob as g
    qdirs = {d.split("/")[-1] for d in g.glob(f"{out_dir}/*") if not d.endswith(".json")}
    names = sorted(qdirs | set(oracle))
    for name in names:
        if name not in qdirs:
            # Verify skips a gate that throws: no result is a failure
            print(f"  [FAIL-missing] {name}: no result dir")
            failures += 1
            continue
        spark_df = pd.read_parquet(f"{out_dir}/{name}")
        if name not in oracle:
            print(f"  [FAIL-no-oracle] {name}: {len(spark_df)} rows, nothing to compare")
            failures += 1
            continue
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            print(f"  [FAIL-sql ] {name}: oracle SQL error: {e}")
            failures += 1
            continue
        s, d = canon(spark_df), canon(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"  [FAIL-cols] {name}: spark={list(s.columns)} duck={list(d.columns)}")
            failures += 1
            continue
        # Dtype lint: the driver hashes VALUES, so an int64 Spark column vs a
        # float64 DuckDB column (e.g. HUGEINT sum -> float) hash-mismatches
        # even when every value compares equal numerically (the r7 q12 bug).
        # Flag any kind mismatch (int vs float vs object) with the column name
        # so the oracle SQL gets its CAST before the driver sees it.
        dtype_bad = [
            (c, str(s[c].dtype), str(d[c].dtype))
            for c in s.columns
            if s[c].dtype.kind != d[c].dtype.kind
        ]
        if dtype_bad:
            c, sk, dk = dtype_bad[0]
            print(f"  [FAIL-type] {name}: col={c} spark_dtype={sk} duck_dtype={dk}"
                  f" (add CAST in the oracle SQL)")
            failures += 1
            continue
        if len(s) != len(d):
            print(f"  [FAIL-rows] {name}: spark={len(s)} duck={len(d)}")
            failures += 1
            continue
        bad = None
        for col in s.columns:
            sv, dv = s[col].tolist(), d[col].tolist()
            for i, (a, b) in enumerate(zip(sv, dv)):
                if not values_equal(a, b):
                    bad = (col, i, a, b)
                    break
            if bad:
                break
        if bad:
            col, i, a, b = bad
            print(f"  [FAIL-val ] {name}: col={col} row={i} spark={a!r} duck={b!r}")
            failures += 1
        else:
            print(f"  [OK       ] {name}: {len(s)} rows")
    print(f"\n{failures} failures / {len(names)} gates")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
