"""Continuous importer: the reference's one-shot CSV pipeline (O8 load,
O10 column sanitize, §2.2 type inference, O12/O13 georeferencing —
importer.rb:228-330) re-expressed as a Structured Streaming file-source
query that watches a directory and appends each arriving file to a
catalog table.

Spark-first shape: the schema/type/georef DECISIONS are made once,
driver-side, from the files present at start time (a stream needs a fixed
schema; re-inferring per micro-batch would let two batches disagree about
a column's type — the batch importer's semantics are one decision per
table). Every arriving file then flows through the same pure-expression
transform chain, distributed, with foreachBatch idempotent-replay
append semantics (streaming/sinks.py) giving exactly-once table state
under checkpoint recovery.

At 100 TB this is the landing-zone pattern: files dropped by upstream
jobs become table rows within a trigger interval without rescanning the
table, and `maxFilesPerTrigger` bounds per-batch work.
"""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as st

from .. import naming
from ..georef import georeference_points
from ..infer import apply_inferred_types, infer_column_types
from .sinks import stream_to_catalog


def plan_csv_ingest(
    spark: SparkSession, directory: str
) -> tuple[st.StructType, dict[str, str], dict[str, str]]:
    """One-time driver-side decisions for a CSV landing zone: sanitized
    column names (from the first file's header, O10), the inferred type
    lattice (over the files present now, §2.2), AND the sniffed CSV
    dialect (delimiter/quote/encoding/header presence) — the reads that
    follow must parse with the SAME dialect the sniff decided, or a
    semicolon-delimited or headerless zone silently corrupts. Returns
    (string-typed read schema, {column: inferred_type}, reader options
    dict for DataFrameReader/DataStreamReader.options(**...))."""
    from ..readers.csv import read_csv

    seed = sorted(glob.glob(os.path.join(directory, "*.csv")))
    if not seed:
        raise ValueError(f"no .csv files in {directory} to plan from")
    # only the seed's columns and dialect are used, so any staged copy
    # read_csv writes can go as soon as it returns
    with tempfile.TemporaryDirectory(prefix="cartodb_csv_") as workdir:
        df, meta = read_csv(spark, seed[0], workdir)
    names = df.columns
    schema = st.StructType(
        [st.StructField(n, st.StringType(), True) for n in names]
    )
    options = {
        "sep": meta["delimiter"],
        "quote": meta["quote"],
        "escape": meta["quote"],  # RFC4180, matching readers/csv.py
        "encoding": meta["spark_encoding"],
        "header": str(meta["has_header"]).lower(),
        "multiLine": str(meta["multiline"]).lower(),
        "enforceSchema": "true",
        "mode": "PERMISSIVE",
    }
    # Headerless utf-8-sig zone: the batch reader stages a BOM-stripped
    # copy, but the stream reads ORIGINAL landed files with header=false
    # + UTF-8, so each file's first cell would keep a leading U+FEFF.
    # Flag it (private key, popped before .options()) so the stream plan
    # strips it per-row — a pure column expression, not a per-file copy.
    if meta["encoding"] == "utf-8-sig" and not meta["has_header"]:
        options["_stripLeadingBom"] = "true"
    # infer over everything currently landed (distributed agg, one job)
    read_opts = {k: v for k, v in options.items() if not k.startswith("_")}
    union = (
        spark.read.options(**read_opts).schema(schema).csv(seed).toDF(*names)
    )
    union = _strip_leading_bom(union, options)
    types = infer_column_types(union)
    return schema, types, options


def _strip_leading_bom(df: DataFrame, options: dict[str, str]) -> DataFrame:
    """Remove a file-leading U+FEFF from the first column (headerless
    utf-8-sig landing zones) as a pure column expression."""
    if options.get("_stripLeadingBom") != "true" or not df.columns:
        return df
    from pyspark.sql import functions as F

    first = df.columns[0]
    return df.withColumn(first, F.regexp_replace(F.col(first), "^\\uFEFF", ""))


def stream_import_csv(
    spark: SparkSession,
    directory: str,
    catalog,
    table: str,
    checkpoint_dir: str,
    schema: st.StructType | None = None,
    types: dict[str, str] | None = None,
    options: dict[str, str] | None = None,
    max_files_per_trigger: int = 16,
    trigger_available_now: bool = True,
):
    """Start the continuous import of ``directory`` into
    ``catalog``/``table``. Returns the StreamingQuery (caller awaits).

    The per-batch transform chain is exactly the batch importer's:
    sanitized names (baked into the schema), inferred casts, lat/lon
    georeferencing — all pure column expressions, so the stream plan
    stays whole-stage-codegen'd with no Python in the row path. The
    stream parses with the planner's sniffed dialect options (pass all
    three of schema/types/options together, or none)."""
    if schema is None or types is None or options is None:
        planned_schema, planned_types, planned_opts = plan_csv_ingest(
            spark, directory
        )
        schema = schema or planned_schema
        types = types or planned_types
        options = options or planned_opts
    read_opts = {k: v for k, v in options.items() if not k.startswith("_")}
    raw = (
        spark.readStream.schema(schema)
        .options(**read_opts)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .csv(directory)
    )
    raw = _strip_leading_bom(raw, options)
    typed = apply_inferred_types(raw, types)
    geo = georeference_points(typed)
    return stream_to_catalog(
        geo,
        catalog,
        table,
        checkpoint_dir,
        trigger_available_now=trigger_available_now,
    )


def sanitize_stream_columns(df: DataFrame) -> DataFrame:
    """O10 for an already-running stream whose source columns are raw
    (e.g. a Kafka JSON feed): rename to sanitized names in one select."""
    return df.toDF(*naming.sanitize_columns(df.columns))
