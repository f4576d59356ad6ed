#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run each queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir, compare
row count, column names, and (sorted, rounded) values.

Usage: python tools/check_oracle.py [query ...]   # default: all
       SF_DIR=/root/testdata/sf0.01 python tools/check_oracle.py
       OUT_JSON=CORRECTNESS_local.json python tools/check_oracle.py
"""

from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

import __spark_entry__ as entrymod
from cartodb_importer_spark.queries import TABLES, read_parquet_normalized
from cartodb_importer_spark.session import get_spark

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


class DriverIncompatible(Exception):
    """Raised when a result contains cells the DRIVER's canonicalizer
    cannot hash (list/ndarray/dict in an object column). The driver does a
    plain ``DataFrame.sort_values`` over all columns and dies with
    ``TypeError: unhashable type: 'list'`` (r05: llm_embedding_standardize
    / llm_embedding_quantize) — so locally tolerating arrays hides a
    guaranteed driver red. Any query tripping this must serialize
    (to_json) or flatten (posexplode) its complex columns."""


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, round floats, sort rows — order-insensitive
    canonical form (mirrors the driver's hash prep, INCLUDING its
    inability to handle complex-typed cells)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif df[c].dtype.kind == "M":
            # unit-insensitive (ns vs us): the driver's hash prep is
            # value-based; assert_frame_equal is not
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            head = df[c].head(100)
            bad = head.map(
                lambda v: isinstance(v, (list, tuple, dict, set))
                or type(v).__name__ == "ndarray"
            )
            if bad.any():
                raise DriverIncompatible(
                    f"column {c!r} holds {type(head[bad.idxmax()]).__name__} "
                    "cells — the driver's sort_values canonicalizer cannot "
                    "hash these; posexplode or to_json the column"
                )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(
        drop=True
    )


def main() -> int:
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = sys.argv[1:] or sorted(queries)

    if os.environ.get("BARE"):
        # driver-identical: a virgin SparkSession with NO custom confs —
        # everything the queries need must be set at read time
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").appName(
            "bare-driver-sim"
        ).getOrCreate()
    else:
        spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    import time

    # One untimed read of every table, then a scan and aggregate, window
    # query and global sort: the tables' one-time schema inference (the
    # reads are memoized per file version), the JVM and codegen warm-up,
    # and the classes a query's first window or sort plan loads would
    # otherwise be timed as part of whichever query runs first and rank it
    # among the slowest.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for t in TABLES:
        read_parquet_normalized(spark, f"{SF_DIR}/{t}.parquet")
    lineitem = read_parquet_normalized(spark, f"{SF_DIR}/lineitem.parquet")
    lineitem.groupBy("l_returnflag").sum("l_quantity").collect()
    ranked = F.row_number().over(
        Window.partitionBy("l_returnflag").orderBy(F.desc("l_extendedprice")))
    lineitem.withColumn("r", ranked).filter("r <= 3").collect()
    lineitem.sort("l_extendedprice").write.format("noop").mode("overwrite").save()

    n_pass = n_fail = n_rows_only = 0
    timings: dict[str, float] = {}
    results: dict[str, dict] = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            sdf = queries[name](spark, SF_DIR).toPandas()
            timings[name] = time.perf_counter() - t0  # before teardown
            # free per-query persisted frames: across a 250-query sweep on
            # one default-heap session, accumulated cache blocks (plus
            # localCheckpoint RDDs pinned by lingering py refs) OOM'd the
            # heavier sf0.1 queries that pass in isolation
            spark.catalog.clearCache()
            import gc

            gc.collect()
            if name not in oracles:
                print(f"ROWS-ONLY {name}: {len(sdf)} rows [{timings[name]:.2f}s]")
                results[name] = {"status": "rows-only", "rows": len(sdf)}
                n_rows_only += 1
                continue
            ddf = con.sql(oracles[name]).df()
            try:
                a, b = canon(sdf), canon(ddf)
            except DriverIncompatible as e:
                print(f"FAIL {name}: driver-incompatible output — {e}")
                results[name] = {"status": "fail", "why": "driver-incompatible"}
                n_fail += 1
                continue
            if list(a.columns) != list(b.columns):
                print(f"FAIL {name}: columns {list(a.columns)} != {list(b.columns)}")
                results[name] = {"status": "fail", "why": "columns"}
                n_fail += 1
                continue
            # The driver's value-hash is dtype-sensitive: int64 2 and
            # float64 2.0 hash differently even when values are equal
            # (r02 scalar_math). Require matching numpy dtype *kind*
            # (i/u merged, f, O, M, b) per column on both engines.
            kind_of = lambda dt: "i" if dt.kind in "iu" else dt.kind
            badk = [
                (c, a[c].dtype, b[c].dtype)
                for c in a.columns
                if kind_of(a[c].dtype) != kind_of(b[c].dtype)
            ]
            if badk:
                print(f"FAIL {name}: dtype-kind mismatch {badk}")
                results[name] = {"status": "fail", "why": "dtype-kind"}
                n_fail += 1
                continue
            if len(a) != len(b):
                print(f"FAIL {name}: rows {len(a)} != {len(b)}")
                results[name] = {"status": "fail", "why": "rowcount"}
                n_fail += 1
                continue
            try:
                pd.testing.assert_frame_equal(
                    a, b, check_dtype=False, check_exact=False, rtol=1e-6, atol=1e-9
                )
            except AssertionError as e:
                print(f"FAIL {name}: values differ\n  {str(e).splitlines()[-1]}")
                # show first differing rows for debugging
                neq = (a != b) & ~(a.isna() & b.isna())
                bad = neq.any(axis=1)
                if bad.any():
                    i = bad.idxmax()
                    print(f"  spark row {i}: {a.loc[i].to_dict()}")
                    print(f"  duck  row {i}: {b.loc[i].to_dict()}")
                results[name] = {"status": "fail", "why": "values"}
                n_fail += 1
                continue
            print(f"PASS {name}: {len(a)} rows [{timings[name]:.2f}s]")
            results[name] = {"status": "pass", "rows": len(a)}
            n_pass += 1
        except Exception:
            timings.setdefault(name, time.perf_counter() - t0)
            print(f"ERROR {name}:")
            traceback.print_exc(limit=5)
            results[name] = {"status": "error"}
            n_fail += 1
            try:
                spark.catalog.clearCache()
            except Exception:
                pass
    print(
        f"\n{n_pass} pass / {n_fail} fail / {n_rows_only} rows-only "
        f"of {len(names)} (sf={SF_DIR})"
    )
    slow = sorted(timings.items(), key=lambda kv: -kv[1])[:15]
    print("slowest (spark side):")
    for n, s in slow:
        print(f"  {s:6.2f}s  {n}")
    print(f"total spark time: {sum(timings.values()):.1f}s")
    out_json = os.environ.get("OUT_JSON")
    if out_json:
        import json

        with open(out_json, "w") as f:
            json.dump(
                {
                    "sf_dir": SF_DIR,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_rows_only,
                    "results": results,
                    "timings_sec": {k: round(v, 3) for k, v in timings.items()},
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {out_json}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
