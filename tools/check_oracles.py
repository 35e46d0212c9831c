"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same parquet,
compare row count, schema (column names), and order-insensitive values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]

Every oracle runs first, before the Spark driver starts, so DuckDB never
shares the host's memory with the JVM. An entry whose oracle or Spark
query raises (e.g. DuckDB out of memory) is reported as failed and the
run goes on.
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


def _first_line(e: Exception) -> str:
    return f"{type(e).__name__}: " + (str(e).strip().splitlines() or [""])[0][:200]


def oracle_answers(sf_dir: str, sqls: dict[str, str]) -> dict:
    """{name: (normalized answer or the exception it raised, seconds)}.
    DuckDB keeps its default memory limit and spills past it to a
    directory under $SPARK_LOCAL_DIRS (else /tmp). The connection is
    closed, which returns its memory, before the caller starts Spark."""
    local_dir = (os.environ.get("SPARK_LOCAL_DIRS") or "/tmp").split(",")[0]
    con = duckdb.connect(
        config={"temp_directory": os.path.join(local_dir, "duckdb-oracle-check")}
    )
    out = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name, sql in sqls.items():
            t0 = time.time()
            try:
                want = normalize(con.execute(sql).df())
            except Exception as e:  # reported as a failed entry
                want = e
            out[name] = (want, time.time() - t0)
    finally:
        con.close()
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    qs, sqls = entrymod.queries(), entrymod.oracle_sql()
    names = [name for name in qs if not only or name in only]
    wants = oracle_answers(sf_dir, {n: sqls[n] for n in names if n in sqls})
    spark = get_spark(app_name="oracle-check")
    failures = 0
    for name in names:
        want, duck_s = wants.get(name, (None, 0.0))
        if isinstance(want, Exception):
            print(f"{name:38s} FAIL oracle did not run: {_first_line(want)}")
            failures += 1
            continue
        t0 = time.time()
        try:
            got = normalize(qs[name](spark, sf_dir).toPandas())
        except Exception as e:  # an entry that cannot run is a failure
            print(f"{name:38s} FAIL spark did not run: {_first_line(e)}")
            failures += 1
            continue
        t1 = time.time()
        if want is None:
            print(f"{name:38s} rows={len(got):8d} (rows-only, no oracle) "
                  f"spark={t1 - t0:6.1f}s")
            continue
        ok_rows = len(got) == len(want)
        ok_cols = list(got.columns) == list(want.columns)
        ok_vals = ok_rows and ok_cols and got.equals(want)
        status = "OK " if (ok_rows and ok_cols and ok_vals) else "FAIL"
        print(
            f"{name:38s} {status} rows={len(got):8d}/{len(want):8d} "
            f"cols={'=' if ok_cols else f'{list(got.columns)}vs{list(want.columns)}'} "
            f"vals={'=' if ok_vals else 'DIFF'} spark={t1 - t0:6.1f}s duck={duck_s:5.1f}s"
        )
        if not ok_vals and ok_rows and ok_cols:
            neq = (got != want).any(axis=1)
            print("  first diffs:\n", got[neq].head(3), "\n vs\n", want[neq].head(3))
        failures += 0 if (ok_rows and ok_cols and ok_vals) else 1
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
