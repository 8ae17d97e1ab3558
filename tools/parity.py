#!/usr/bin/env python3
"""Dev-only parity harness (NOT part of the engine — the engine is pure
Scala/Spark). Mimics the driver's correctness gate locally: reads each
query's parquet dump from Verify, runs the oracle SQL in DuckDB over the
same testdata, sorts columns by name and rows by value, and compares.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir> [query ...]

Named queries restrict the check; a named query missing from
oracle_sql.json counts as a FAIL.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize dtypes a bit: ints to int64, floats to float64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # a requested name the oracle does not know was never checked: FAIL
    for name in sorted(only - oracle.keys()):
        print(f"FAIL {name}: not in oracle_sql.json")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        try:
            got = canon(pd.concat([pd.read_parquet(f) for f in files]))
            exp = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if list(got.columns) != list(exp.columns):
            print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
            n_fail += 1
            continue
        if len(got) != len(exp):
            print(f"FAIL {name}: rows {len(got)} != {len(exp)}")
            n_fail += 1
            continue
        if got.dtypes.tolist() != exp.dtypes.tolist():
            print(f"WARN {name}: dtypes spark={got.dtypes.tolist()} duck={exp.dtypes.tolist()}")
        try:
            pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                          check_exact=True)
            print(f"PASS {name} ({len(got)} rows)")
            n_pass += 1
        except AssertionError as e:
            print(f"FAIL {name}: {str(e)[:400]}")
            n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
