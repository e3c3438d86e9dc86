"""Local stand-in for the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB, compare row count, schema
width, and order-insensitive values."""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = df[c].astype(str)
            except Exception:
                pass
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def main():
    import __spark_entry__ as entrymod
    from pyhydroqc_spark.session import get_spark

    spark = get_spark("contract-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            mine = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL  {name}: spark error {e}")
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(mine)} rows (rows-only) [{time.time()-t0:.1f}s]")
            continue
        try:
            theirs = con.execute(oracles[name]).df()
        except Exception as e:
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL  {name}: duckdb error {e}")
            continue
        status = []
        if len(mine) != len(theirs):
            status.append(f"rowcount {len(mine)} vs {len(theirs)}")
        if sorted(mine.columns) != sorted(theirs.columns):
            status.append(f"cols {sorted(mine.columns)} vs {sorted(theirs.columns)}")
        if not status:
            # the driver's value hash is dtype-sensitive (e.g. DuckDB HUGEINT
            # SUMs vs Spark BIGINT) — flag dtype drift as a failure too
            da = {c: str(mine[c].dtype) for c in mine.columns}
            db = {c: str(theirs[c].dtype) for c in theirs.columns}
            if da != db:
                diff = {c: (da[c], db[c]) for c in da if da[c] != db.get(c)}
                status.append(f"dtypes {diff}")
        if not status:
            a, b = normalize(mine), normalize(theirs)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, atol=1e-9)
            except AssertionError as e:
                status.append("values differ: " + str(e).split("\n")[0])
                # show a small diff sample
                for c in a.columns:
                    if not a[c].equals(b[c]):
                        neq = (a[c].astype(str) != b[c].astype(str))
                        if neq.any():
                            i = int(np.flatnonzero(neq)[0])
                            status.append(f"  first diff col={c} row={i}: {a[c][i]!r} vs {b[c][i]!r}")
                        break
        if status:
            failures.append((name, "; ".join(status)))
            print(f"FAIL  {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
        else:
            print(f"OK    {name}: {len(mine)} rows [{time.time()-t0:.1f}s]")

    print(f"\n{len(failures)} failures")
    for n, s in failures:
        print(" -", n, s)
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
