#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB correctness compare.

Usage: compare_oracle.py <sf_dir> <verify_out_dir> [query ...]
Registers every <sf_dir>/*.parquet as a view named after the table, runs
each oracle SQL from <verify_out_dir>/oracle_sql.json, and compares with
the Spark result parquet (column-name-sorted, row-sorted, dtype-aware).
Ends with `ALL OK` and exit 0, or `N MISMATCHES` and exit 1 when any query
mismatches, has no Spark output or its oracle SQL fails.
"""
import sys, json, glob, os
import duckdb
import pandas as pd

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    bad = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        spark_path = f"{out_dir}/{name}"
        if not os.path.isdir(spark_path):
            print(f"{name}: NO SPARK OUTPUT")
            bad += 1
            continue
        s = con.execute(
            f"SELECT * FROM read_parquet('{spark_path}/*.parquet')").df()
        try:
            o = con.execute(sql).df()
        except Exception as e:
            print(f"{name}: ORACLE SQL ERROR: {e}")
            bad += 1
            continue
        s, o = canon(s), canon(o)
        problems = []
        if list(s.columns) != list(o.columns):
            problems.append(f"cols spark={list(s.columns)} oracle={list(o.columns)}")
        if len(s) != len(o):
            problems.append(f"rows spark={len(s)} oracle={len(o)}")
        if not problems:
            if list(map(str, s.dtypes)) != list(map(str, o.dtypes)):
                problems.append(
                    f"dtypes spark={list(map(str, s.dtypes))} oracle={list(map(str, o.dtypes))}")
            if not s.equals(o):
                diff = (s != o) & ~(s.isna() & o.isna())
                differs = diff.any(axis=1)
                n = int(differs.sum())
                if n:
                    problems.append(f"{n} differing rows; first:")
                    idx = differs[differs].index[:3]
                    for i in idx:
                        problems.append(f"  spark : {s.loc[i].to_dict()}")
                        problems.append(f"  oracle: {o.loc[i].to_dict()}")
                elif not problems:
                    problems.append("values differ (DataFrame.equals is False)")
        print(f"{name}: {'OK' if not problems else 'MISMATCH'}")
        for p_ in problems:
            print("   ", p_)
        bad += bool(problems)
    print("ALL OK" if bad == 0 else f"{bad} MISMATCHES")
    return 1 if bad else 0

if __name__ == "__main__":
    sys.exit(main())
