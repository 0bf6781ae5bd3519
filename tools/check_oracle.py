#!/usr/bin/env python3
"""Dev-side emulation of the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
       python3 tools/check_oracle.py --against <otherVerifyOutDir> <verifyOutDir>

Reads each <outDir>/<name>/ parquet result (written by graft.Verify),
runs the matching oracle SQL from <outDir>/oracle_sql.json in DuckDB with
the sf tables registered as views, and compares (schema by sorted column
name, then row-sorted values). Exact match expected; floats compared to
1e-9 relative just to report near-misses distinctly. A query named in
oracle_sql.json with no result dir is reported MISSING and counted as a
failure: Verify writes no dir for a query that throws, and a dump
filtered by name (Verify's third argument) lists the names it skipped.

--against compares two Verify outputs instead, e.g. of two commits: each
query's result against the other dir's through the same canonical form
and the same column/row/float checks, without running DuckDB. Rows are
sorted before comparing, so queries with no ORDER BY (q76, q109, q133,
q170 write rows in a run-dependent order) compare equal; a query present
in only one dir fails. It takes seconds where the oracle run takes
about 25 minutes at sf0.01.

This is DEV TOOLING ONLY — the shipped Scala library has no Python
dependency.
"""
import json, sys, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_result(d):
    files = glob.glob(os.path.join(d, "*.parquet"))
    if not files:
        return None
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize ints to int64, floats to float64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif not pd.api.types.is_object_dtype(df[c]) and not pd.api.types.is_string_dtype(df[c]):
            df[c] = df[c].astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def mismatch(s, d, left, right):
    """None when two canonical frames are equal, else why not."""
    if list(s.columns) != list(d.columns):
        return f"columns {left}={list(s.columns)} {right}={list(d.columns)}"
    if len(s) != len(d):
        return f"rowcount {left}={len(s)} {right}={len(d)}"
    for c in s.columns:
        if pd.api.types.is_float_dtype(s[c]) or pd.api.types.is_float_dtype(d[c]):
            a, b = s[c].astype("float64").values, d[c].astype("float64").values
            if not np.array_equal(a, b):
                if np.allclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True):
                    return f"col {c}: float near-miss (would FAIL exact hash)"
                return f"col {c}: float mismatch"
        elif not s[c].equals(d[c]):
            diff = (s[c].astype(str) != d[c].astype(str))
            i = int(np.argmax(diff.values))
            return f"col {c}: row {i}: {left}={s[c][i]!r} {right}={d[c][i]!r}"
    return None


def result_names(out_dir):
    return sorted(d for d in os.listdir(out_dir)
                  if os.path.isdir(os.path.join(out_dir, d)))


def against(other_dir, out_dir):
    names = sorted(set(result_names(out_dir)) | set(result_names(other_dir)))
    n_pass = n_fail = 0
    for name in names:
        mine = load_result(os.path.join(out_dir, name))
        other = load_result(os.path.join(other_dir, name))
        if mine is None or other is None:
            side = "this" if mine is None else "other"
            print(f"FAIL  {name}: no result in the {side} dir")
            n_fail += 1
            continue
        why = mismatch(canon(mine), canon(other), "this", "other")
        if why:
            print(f"FAIL  {name}: {why}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(mine)} rows)")
            n_pass += 1
    print(f"\n== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


def main():
    if sys.argv[1] == "--against":
        against(sys.argv[2], sys.argv[3])
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_rows_only = 0
    written = result_names(out_dir)
    for name in written:
        spark_df = load_result(os.path.join(out_dir, name))
        if spark_df is None:
            print(f"FAIL  {name}: no spark result written")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: rows={len(spark_df)} (no oracle)")
            n_rows_only += 1
            continue
        try:
            duck_df = con.execute(oracles[name]).fetchdf()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        why = mismatch(canon(spark_df), canon(duck_df), "spark", "duck")
        if why:
            print(f"FAIL  {name}: {why}")
            n_fail += 1
        else:
            print(f"PASS  {name} ({len(spark_df)} rows)")
            n_pass += 1
    missing = sorted(set(oracles) - set(written))
    for name in missing:
        print(f"MISSING  {name}: no spark result written")
    n_fail += len(missing)
    print(f"\n== {n_pass} pass, {n_fail} fail ({len(missing)} missing), "
          f"{n_rows_only} rows-only ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
