#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare.

Usage: python3 scripts/check.py <sfDir> <verifyOutDir>

For each query: load Spark's parquet dump and run the oracle SQL in
DuckDB over views named after the testdata tables; sort columns by
name, sort rows, compare values. Driver-side python (duckdb/pandas)
is available in this container for checking only — the engine itself
is pure Scala/Spark.
"""
import json, sys, glob, os
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize dtypes for value-compare
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

# DuckDB's defaults take 80% of RAM and every core; capped, an oracle that
# needs more fails its query (a FAIL below) instead of starving a JVM that
# runs beside the check.
DUCKDB_MEMORY_LIMIT = "3GB"
DUCKDB_THREADS = 2

def main(sf_dir, out_dir):
    con = duckdb.connect(config={"memory_limit": DUCKDB_MEMORY_LIMIT,
                                 "threads": DUCKDB_THREADS})
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output"); n_fail += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
        try:
            duck_df = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_fail += 1; continue
        s, d = norm(spark_df), norm(duck_df)
        if list(s.columns) != list(d.columns):
            print(f"FAIL {name}: columns spark={list(s.columns)} duck={list(d.columns)}")
            n_fail += 1; continue
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)}"); n_fail += 1; continue
        # dtype report (informational)
        dt_mismatch = [(c, str(s[c].dtype), str(d[c].dtype))
                       for c in s.columns if str(s[c].dtype) != str(d[c].dtype)]
        try:
            pd.testing.assert_frame_equal(s, d, check_dtype=False, check_exact=True)
            ok = True
        except AssertionError as e:
            ok = False
            msg = str(e).splitlines()[0]
        if ok:
            note = f" (dtypes differ: {dt_mismatch})" if dt_mismatch else ""
            print(f"PASS {name} rows={len(s)}{note}"); n_pass += 1
        else:
            print(f"FAIL {name}: value mismatch: {msg}")
            for c in s.columns:
                if not s[c].equals(d[c]):
                    diff = (s[c] != d[c])
                    i = diff.idxmax()
                    print(f"  col {c}: first diff row {i}: spark={s[c][i]!r} duck={d[c][i]!r} ({int(diff.sum())} rows differ)")
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    return 1 if n_fail else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
