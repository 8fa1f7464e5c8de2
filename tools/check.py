#!/usr/bin/env python3
"""Local pre-verification of SparkEntry oracles against DuckDB.

Mimics the driver's t2 gate: for each query, load the Spark result
parquet written by graft.Verify, run the oracle SQL in DuckDB with the
same tables registered, sort columns by name, sort rows, and compare
values exactly. Usage: python3 tools/check.py <sfDir> <outDir>
"""
import json, sys, math
import duckdb
import pandas as pd

TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings"]

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify for stable comparison; floats via repr (exact)
    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if pd.isna(v) if not isinstance(v, (list, tuple)) else False:
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)
    out = df.apply(lambda c: c.map(cell))
    return out.sort_values(by=list(out.columns), ignore_index=True) if len(out.columns) else out

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: spark result missing ({e})"); n_bad += 1; continue
        try:
            # Fresh connection per query: the heavy materialized-CTE
            # replays (Lloyd chains at sf0.1) leave enough pinned in a
            # shared buffer pool that a later query can hit the memory
            # limit even though each runs fine alone.
            con = duckdb.connect()
            # Explicit cap well under the machine: the default (~80% of
            # RAM) system-OOMs when a Spark JVM from the verify step is
            # still releasing memory alongside (observed: 712 KB malloc
            # failure at 120 GB free-by-then). Heaviest replay peaks ~3 GB.
            con.execute("SET memory_limit='32GB'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            duck_df = con.sql(sql).df()
            con.close()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}"); n_bad += 1; continue
        a, b = canon(spark_df), canon(duck_df)
        if list(a.columns) != list(b.columns):
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}"); n_bad += 1; continue
        if len(a) != len(b):
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}"); n_bad += 1; continue
        if not a.equals(b):
            diff = (a != b).any(axis=1)
            idx = diff[diff].index[:3]
            print(f"FAIL {name}: value mismatch, first diffs:")
            for i in idx:
                print(f"  spark: {a.loc[i].to_dict()}")
                print(f"  duck : {b.loc[i].to_dict()}")
            n_bad += 1; continue
        n_ok += 1
        print(f"ok   {name} ({len(a)} rows)")
    print(f"== {n_ok} ok, {n_bad} fail")
    sys.exit(1 if n_bad else 0)

if __name__ == "__main__":
    main()
