"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count, schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from peregrine_spark.session import get_spark  # noqa: E402
from peregrine_spark.sources.testdata import TABLES  # noqa: E402


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        else:
            df[c] = df[c].astype("int64", errors="ignore")
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        got = normalize(sdf.toPandas())
        t1 = time.time()
        if name not in sqls:
            print(f"{name:38s} rows={len(got):8d} (rows-only, no oracle) "
                  f"spark={t1 - t0:6.1f}s")
            continue
        want = normalize(con.execute(sqls[name]).df())
        t2 = time.time()
        ok_rows = len(got) == len(want)
        ok_cols = list(got.columns) == list(want.columns)
        ok_vals = ok_rows and ok_cols and got.equals(want)
        status = "OK " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(
            f"{name:38s} {status} rows={len(got):8d}/{len(want):8d} "
            f"cols={'=' if ok_cols else f'{list(got.columns)}vs{list(want.columns)}'} "
            f"vals={'=' if ok_vals else 'DIFF'} spark={t1 - t0:6.1f}s duck={t2 - t1:5.1f}s"
        )
        if not ok_vals and ok_rows and ok_cols:
            neq = (got != want).any(axis=1)
            print("  first diffs:\n", got[neq].head(3), "\n vs\n", want[neq].head(3))
        failures += 0 if (ok_rows and ok_cols and ok_vals) else 1
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
