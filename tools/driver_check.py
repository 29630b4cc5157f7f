#!/usr/bin/env python
"""Emulate the driver's verify pass against __spark_entry__.py.

Runs: (1) smoke — ``entry(spark)`` at sf0.001 must yield >=0 rows;
(2) correctness — for every ``queries()`` entry with an
``oracle_sql()`` counterpart, run both at the given SF and compare
row count, sorted column names, and an order-insensitive value hash
(doubles rounded to 9 significant-ish decimals before hashing).

Each result line also reports ``jobs=N``: the Spark jobs the query
started, including its staging writes and reads.

Usage: python tools/driver_check.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def value_hash(df) -> str:
    """Order-insensitive hash over a pandas frame, columns sorted by name."""
    import numpy as np
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
    rows = sorted(
        tuple("NULL" if pd.isna(v) else str(v) for v in row)
        for row in df.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]


def last_job(spark) -> int:
    """The highest Spark job id started so far: ids are one global
    sequence, so the difference across a query counts its jobs."""
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids, default=-1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--smoke-sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*", help="subset of query names")
    args = ap.parse_args()

    # corpus-dependent oracle generators (IVF/PQ/k-means centroid
    # literals) must train on the SAME tables the check queries —
    # align them with --sf before the registry imports
    os.environ["SPARK_GRAFT_ORACLE_SF"] = args.sf

    import __spark_entry__ as entrymod
    from oups_spark.session import get_spark

    spark = get_spark("driver-check")

    t0 = time.time()
    n = entrymod.entry(spark).count()
    print(f"[smoke] entry() -> {n} rows in {time.time() - t0:.1f}s")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = args.names or sorted(qs)
    failures = []
    for name in names:
        t0 = time.time()
        job0 = last_job(spark)
        try:
            got = qs[name](spark, args.sf).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: spark side raised {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        jobs = last_job(spark) - job0
        if name not in oracles:
            print(f"[rows-only] {name}: {len(got)} rows, {len(got.columns)} cols "
                  f"jobs={jobs} ({time.time() - t0:.1f}s)")
            continue
        try:
            exp = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"[FAIL] {name}: oracle raised {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        ok_rows = len(got) == len(exp)
        ok_cols = sorted(got.columns) == sorted(exp.columns)
        ok_hash = ok_rows and ok_cols and value_hash(got) == value_hash(exp)
        status = "OK" if (ok_rows and ok_cols and ok_hash) else "FAIL"
        print(
            f"[{status}] {name}: rows {len(got)}/{len(exp)} cols_match={ok_cols} "
            f"hash_match={ok_hash} jobs={jobs} ({time.time() - t0:.1f}s)"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"       spark cols: {sorted(got.columns)}")
                print(f"       duck  cols: {sorted(exp.columns)}")
    print(f"== {len(names) - len(failures)}/{len(names)} queries pass ==")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
