"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real content lives in cartodb_importer_spark/queries/ — this module is
a thin adapter over that registry.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cartodb_importer_spark.caching import release_tracked_caches
from cartodb_importer_spark.queries import ORACLES, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, SMOKE_SF_DIR)


def _releasing(fn):
    # Release the PREVIOUS query's tracked persists before building the
    # next one: by the time a sweep asks for query N+1, query N's
    # consuming action has run, so its caches are dead weight — without
    # this a 290-query sweep session accumulates every invocation's
    # entries until session end. The current query's own persists are
    # untouched (registered only when fn runs, released on the NEXT call).
    @functools.wraps(fn)
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        release_tracked_caches()
        return fn(spark, sf_dir)

    return wrapper


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in registration order."""
    return {name: _releasing(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted => rows-only check), in
    the same order as queries()."""
    return {name: ORACLES[name] for name in QUERIES if name in ORACLES}
