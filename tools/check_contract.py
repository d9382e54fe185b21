"""Mimic the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB at sf0.01, compare row count,
column names, and an order-insensitive value hash."""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def value_hash(df: pd.DataFrame) -> str:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        df[c] = df[c].astype(str)
    if len(df) == 0:
        return hashlib.md5(b"").hexdigest()
    rows = sorted(df.apply(lambda r: "|".join(r.values), axis=1).tolist())
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None):
    import __spark_entry__ as e
    from ner_pytorch_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")

    qs, oracles = e.queries(), e.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(sdf)} rows  ({time.time()-t0:.1f}s)")
            continue
        try:
            ddf = con.execute(oracles[name]).df()
        except Exception as exc:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {exc}")
            continue
        ok_rows = len(sdf) == len(ddf)
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        ok_hash = value_hash(sdf) == value_hash(ddf) if ok_rows and ok_cols else False
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        if status == "FAIL":
            failures.append(name)
        print(f"{status} {name}: rows {len(sdf)}/{len(ddf)} cols={ok_cols} "
              f"hash={ok_hash}  ({time.time()-t0:.1f}s)")
        if status == "FAIL" and ok_cols and ok_rows:
            try:
                s2 = sdf.sort_values(list(sdf.columns)).reset_index(drop=True)
                d2 = ddf[sdf.columns.tolist()].sort_values(list(sdf.columns)).reset_index(drop=True)
                diff = (s2.astype(str) != d2.astype(str)).any(axis=1)
                print("  first diffs:")
                print(pd.concat([s2[diff].head(3), d2[diff].head(3)]))
            except Exception as exc:
                print("  (diff failed:", exc, ")")
    spark.stop()
    print("FAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    only = sys.argv[1:] or None
    sys.exit(main(only=only))
