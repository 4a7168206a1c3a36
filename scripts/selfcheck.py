"""Replicate the external driver's correctness gate locally.

For every queries() entry: run the Spark query, run its oracle_sql() entry
in DuckDB over the same parquet views, and compare row count, column names,
and an order-insensitive value hash (columns sorted by name, rows sorted by
all columns). Prints one line per query + a summary.

Usage: python scripts/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from gdal_spark.session import get_spark


def value_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    pdf = pdf.sort_values(list(pdf.columns), ignore_index=True)
    payload = pdf.to_csv(index=False, float_format="%.9g").encode()
    return hashlib.sha256(payload).hexdigest()[:16]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="selfcheck")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings".split()):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            continue
        dt = time.time() - t0
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok_cols = sorted(sdf.columns) == sorted(ddf.columns)
        ok_rows = len(sdf) == len(ddf)
        # Dtype-kind parity: the external driver's hash is dtype-faithful,
        # so a DuckDB HUGEINT->float64 vs Spark int64 renders "499.0" vs
        # "499" there even when %.9g masks it here. Treat kind drift as FAIL.
        kind_drift = [
            c for c in sdf.columns
            if c in ddf.columns and sdf[c].dtype.kind != ddf[c].dtype.kind
            and {sdf[c].dtype.kind, ddf[c].dtype.kind} <= {"i", "u", "f"}
            and "f" in {sdf[c].dtype.kind, ddf[c].dtype.kind}
        ]
        hs, hd = value_hash(sdf), value_hash(ddf)
        if kind_drift:
            print(f"FAIL  {name}: dtype kind drift {[(c, str(sdf[c].dtype), str(ddf[c].dtype)) for c in kind_drift]}")
            n_fail += 1
            continue
        if ok_cols and ok_rows and hs == hd:
            print(f"PASS  {name}: {len(sdf)} rows hash={hs} ({dt:.1f}s)")
            n_pass += 1
        else:
            print(f"FAIL  {name}: rows {len(sdf)}/{len(ddf)} cols_ok={ok_cols} "
                  f"hash {hs} vs {hd}")
            n_fail += 1

    print(f"\nsummary: {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
