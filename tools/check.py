#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run graft.Verify output
against the DuckDB oracle (oracle_sql.json) on the same parquet tables.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

DuckDB may use a third of the host's memory and spills the rest into a fresh
directory under the system temp dir, removed on exit, so the larger oracles
run at sf0.1 instead of being killed for memory. The pandas frames of a
query (Spark result and oracle result, outside DuckDB's limit) are dropped
before the next query runs.
"""
import sys, json, glob, gc, math, os, tempfile
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def compare(name, spark_df, oracle_df):
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"SCHEMA mismatch: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
    if len(spark_df) != len(oracle_df):
        return f"ROWS mismatch: spark={len(spark_df)} oracle={len(oracle_df)}"
    a, b = norm(spark_df), norm(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av = av.astype(float); bv = bv.astype(float)
            bad = ~((av.isna() & bv.isna()) | (abs(av - bv) <= 1e-9 + 1e-9 * abs(bv)))
        else:
            bad = ~((av.isna() & bv.isna()) | (av.astype(str) == bv.astype(str)))
        if bad.any():
            i = bad.idxmax()
            return f"VALUE mismatch col={c} row={i}: spark={a[c][i]!r} oracle={b[c][i]!r} ({int(bad.sum())} rows differ)"
    return None


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    with tempfile.TemporaryDirectory(prefix="graft_check_") as spill:
        fails = check(sf_dir, out_dir, spill)
    print(f"{'ALL OK' if fails == 0 else str(fails) + ' FAILURES'}")
    sys.exit(1 if fails else 0)


def check(sf_dir, out_dir, spill):
    con = duckdb.connect()
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (3 * 2**20)  # a third, in MB
    con.execute(f"SET memory_limit = '{mem_mb}MB'")
    con.execute(f"SET temp_directory = '{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fails += 1; continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            oracle_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: oracle sql error: {e}"); fails += 1; continue
        err = compare(name, spark_df, oracle_df)
        if err:
            print(f"FAIL {name}: {err}"); fails += 1
        else:
            print(f"OK   {name}: {len(spark_df)} rows")
        del spark_df, oracle_df
        gc.collect()
    con.close()
    return fails


if __name__ == "__main__":
    main()
