#!/usr/bin/env python3
"""Local mirror of the driver's t2 correctness gate.

Reads the parquet outputs of graft.Verify plus oracle_sql.json, runs each
oracle query in DuckDB over the same sf directory, and compares:
columns sorted by name, rows sorted by all columns, values compared exactly
(floats via repr of the float64). Dev-only tool; the Scala library has no
python dependency.

Usage: tools/check_oracle.py [sfdir] [verify_outdir] [query,query,...]

The optional third argument checks only the named queries (for example a
GRAFT_VERIFY_ONLY run); a name with no oracle fails the check.
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True,
                        key=lambda s: s.map(lambda v: (v is None or (isinstance(v, float) and math.isnan(v)), str(v))))
    return df


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(v)
    if isinstance(v, bool):
        return str(v)
    return str(v)


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    if len(sys.argv) > 3:
        only = {n.strip() for n in sys.argv[3].split(",") if n.strip()}
        unknown = sorted(only - oracle.keys())
        if unknown or not only:
            sys.exit(f"no oracle for: {', '.join(unknown) or '(empty subset)'}")
        oracle = {n: q for n, q in oracle.items() if n in only}
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            spark_df = canon(duckdb.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: cannot read spark output: {e}")
            continue
        try:
            duck_df = canon(con.sql(sql).df())
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle sql error: {e}")
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            failures.append(name)
            print(f"FAIL {name}: columns differ\n  spark: {list(spark_df.columns)}\n  duck:  {list(duck_df.columns)}")
            continue
        if len(spark_df) != len(duck_df):
            failures.append(name)
            print(f"FAIL {name}: row count spark={len(spark_df)} duck={len(duck_df)}")
            continue
        # DataFrame.map needs pandas >= 2.1; fall back to applymap on older
        sc = getattr(spark_df, "map", spark_df.applymap)(cell)
        dc = getattr(duck_df, "map", duck_df.applymap)(cell)
        neq = (sc != dc)
        if neq.any().any():
            failures.append(name)
            bad = neq.any(axis=1)
            idx = list(spark_df.index[bad])[:5]
            print(f"FAIL {name}: {int(bad.sum())} mismatched rows; first diffs:")
            for i in idx:
                for c in spark_df.columns:
                    if neq.at[i, c]:
                        print(f"  row {i} col {c}: spark={sc.at[i, c]!r} duck={dc.at[i, c]!r}")
            continue
        print(f"OK   {name}: {len(spark_df)} rows, {len(spark_df.columns)} cols")
    print(f"\n{len(oracle) - len(failures)}/{len(oracle)} queries match")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
