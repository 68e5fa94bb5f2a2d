#!/usr/bin/env python
"""Local emulation of the driver's correctness gate: run every registered
Spark query and its DuckDB oracle at a given scale factor, compare row
counts and order-insensitive values (columns sorted by name, rows sorted).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), kind="stable").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from kiri_ocr_spark.queries import oracle_registry, query_registry
    from kiri_ocr_spark.session import get_spark

    spark = get_spark()  # local[SPARK_GRAFT_CPUS or the host's core count]
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    queries, oracles = query_registry(), oracle_registry()
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            if name not in oracles:  # non-SQL op: rows-only check
                n = fn(spark, sf_dir).count()
                assert n > 0, "no rows"
                print(f"OK   {name:22s} rows={n} (rows-only, no oracle)")
                continue
            got = canon(fn(spark, sf_dir).toPandas())
            exp = canon(con.execute(oracles[name]).df())
            if list(got.columns) != list(exp.columns):
                raise AssertionError(
                    f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
                )
            if len(got) != len(exp):
                raise AssertionError(f"row counts differ: {len(got)} vs {len(exp)}")
            if not got.equals(exp):
                neq = (got != exp) & ~(got.isna() & exp.isna())
                bad = neq.any(axis=1)
                raise AssertionError(
                    f"values differ in {int(bad.sum())} rows, e.g.\n"
                    f"got:\n{got[bad].head(3)}\nexp:\n{exp[bad].head(3)}"
                )
            print(f"OK   {name:22s} rows={len(got)}")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name:22s} {str(e)[:600]}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
