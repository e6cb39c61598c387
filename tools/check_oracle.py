"""Local emulation of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count, column names, and
values (columns sorted by name, rows sorted lexicographically) — the
same canonicalization the driver's value-hash uses. Exact equality is
required: both sides are expected to round floats identically. A query
registered without a twin (``@query`` with no ``twin=``) is absent
from ``oracle_sql()`` and gets a rows-only check.

Usage:  python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd

from kmeans_mapreduce_spark.schema import TESTDATA_TABLES


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    # normalize dtypes: ints → int64, floats → float64
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool")
    return df


def compare(name: str, sp: pd.DataFrame, du: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(sp.columns) != sorted(du.columns):
        problems.append(f"columns differ: spark={sorted(sp.columns)} duck={sorted(du.columns)}")
        return problems
    if len(sp) != len(du):
        problems.append(f"row count differs: spark={len(sp)} duck={len(du)}")
        return problems
    # DRIVER-HASHER PARITY: the driver hashes values dtype-sensitively, so
    # an int64 Spark column vs a float64 DuckDB column ("3" vs "3.0") is a
    # hash mismatch even when numerically equal.  DuckDB silently widens
    # integer SUM() to HUGEINT, which its pandas bridge renders as float64
    # — the r03 corpus_training_mix red row.  Flag kind mismatches BEFORE
    # the numeric coercion below would hide them; oracles must cast
    # integer aggregates ::BIGINT explicitly.
    for c in sorted(sp.columns):
        ka = sp[c].dtype.kind if hasattr(sp[c].dtype, "kind") else "O"
        kb = du[c].dtype.kind if hasattr(du[c].dtype, "kind") else "O"
        ints, flts = ("i", "u"), ("f",)
        if (ka in ints and kb in flts) or (ka in flts and kb in ints):
            problems.append(
                f"col {c}: dtype kind mismatch spark={sp[c].dtype} duck={du[c].dtype}"
                " (driver hash would differ; cast the oracle aggregate ::BIGINT"
                " or the Spark column to double)"
            )
    if problems:
        return problems
    a, b = canon(sp), canon(du)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            eq = (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            eq = av == bv
        neq = (~eq).sum() if hasattr(eq, "sum") else 0
        if neq:
            i = int(np.argmax(~eq))
            problems.append(
                f"col {c}: {neq}/{len(av)} values differ; first at row {i}: "
                f"spark={av[i]!r} duck={bv[i]!r}"
            )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from kmeans_mapreduce_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir).toPandas()
        t1 = time.time()
        sql = oracles.get(name)
        if sql is None:
            print(f"  {name}: rows-only ({len(sdf)} rows, {t1 - t0:.1f}s) — no oracle")
            if len(sdf) == 0 and name != "kmeans_repair_empty":
                print(f"    WARNING: 0 rows")
            continue
        ddf = con.sql(sql).df()
        t2 = time.time()
        problems = compare(name, sdf, ddf)
        status = "OK" if not problems else "FAIL"
        print(f"  {name}: {status} ({len(sdf)} rows, spark {t1-t0:.1f}s, duck {t2-t1:.1f}s)")
        for p in problems:
            print(f"    {p}")
        if problems:
            failed.append(name)
    if failed:
        print(f"FAILED: {failed}")
        return 1
    print("all queries match the oracle")
    return 0


if __name__ == "__main__":
    sys.exit(main())
