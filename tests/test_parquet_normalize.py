"""read_parquet_normalized: timestamp-encoding normalization, including
NTZ timestamps nested inside struct/array/map columns (ADVICE r2 item 3).

The driver regenerates testdata between rounds and has switched events.ts
between TIMESTAMP(NANOS) and timestamp[us]/NTZ once already — every
encoding must normalize to session-tz-UTC TimestampType regardless of the
session's own conf state.

The normalized frame is memoized per session, path and file version, so a
second read of unchanged files runs no Spark job, and a rewritten or added
file is read afresh.
"""

import datetime as dt
import json

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StructType

from cartodb_importer_spark.queries import Tables, read_parquet_normalized

from test_import_jobs import _jobs


def _roundtrip(spark, tmp_path, table: pa.Table):
    p = str(tmp_path / "t.parquet")
    pq.write_table(table, p)
    return read_parquet_normalized(spark, p)


def test_flat_micros_ntz_normalized(spark, tmp_path):
    ts = pa.array([dt.datetime(2024, 1, 1, 12, 0, 0)], type=pa.timestamp("us"))
    df = _roundtrip(spark, tmp_path, pa.table({"ts": ts}))
    assert df.schema.simpleString() == "struct<ts:timestamp>"
    assert df.collect()[0].ts == dt.datetime(2024, 1, 1, 12, 0, 0)


def test_nested_ntz_normalized(spark, tmp_path):
    ts = pa.array([dt.datetime(2024, 1, 1, 12, 0, 0)], type=pa.timestamp("us"))
    tbl = pa.table(
        {
            "st": pa.StructArray.from_arrays([ts], names=["inner_ts"]),
            "arr": pa.array(
                [[dt.datetime(2024, 1, 2, 3, 4, 5)]],
                type=pa.list_(pa.timestamp("us")),
            ),
            "keep": pa.array([7], type=pa.int64()),
        }
    )
    df = _roundtrip(spark, tmp_path, tbl)
    assert (
        df.schema.simpleString()
        == "struct<st:struct<inner_ts:timestamp>,arr:array<timestamp>,keep:bigint>"
    )
    row = df.collect()[0]
    assert row.st.inner_ts == dt.datetime(2024, 1, 1, 12, 0, 0)
    assert row.arr == [dt.datetime(2024, 1, 2, 3, 4, 5)]
    assert row.keep == 7


def test_nanos_normalized(spark, tmp_path):
    ts = pa.array([dt.datetime(2024, 6, 1, 0, 0, 1)], type=pa.timestamp("ns"))
    df = _roundtrip(spark, tmp_path, pa.table({"ts": ts, "v": pa.array([1.5])}))
    assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.collect()[0].ts == dt.datetime(2024, 6, 1, 0, 0, 1)


def test_untouched_columns_keep_types(spark, tmp_path):
    tbl = pa.table({"a": pa.array([1]), "b": pa.array(["x"])})
    df = _roundtrip(spark, tmp_path, tbl)
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"


def test_nanos_rewritten_as_micros_reads_the_new_encoding(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    t = dt.datetime(2024, 6, 1, 0, 0, 1)
    pq.write_table(pa.table({"ts": pa.array([t], type=pa.timestamp("ns"))}), p)
    assert read_parquet_normalized(spark, p).collect()[0].ts == t
    pq.write_table(pa.table({"ts": pa.array([t], type=pa.timestamp("us"))}), p)
    df = read_parquet_normalized(spark, p)
    assert df.schema.simpleString() == "struct<ts:timestamp>"
    assert df.collect()[0].ts == t


def test_micros_rewritten_as_nanos_reads_the_new_encoding(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    t = dt.datetime(2024, 6, 1, 0, 0, 1)
    pq.write_table(pa.table({"ts": pa.array([t], type=pa.timestamp("us"))}), p)
    assert read_parquet_normalized(spark, p).collect()[0].ts == t
    pq.write_table(pa.table({"ts": pa.array([t], type=pa.timestamp("ns"))}), p)
    df = read_parquet_normalized(spark, p)
    assert df.schema.simpleString() == "struct<ts:timestamp>"
    assert df.collect()[0].ts == t


def test_second_tables_access_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"l_orderkey": pa.array([1, 2, 3])}),
                   str(tmp_path / "lineitem.parquet"))
    first = Tables(spark, str(tmp_path)).lineitem
    got = []
    assert _jobs(spark, lambda: got.append(Tables(spark, str(tmp_path)).lineitem)) == 0
    assert got[0] is first


def test_rewritten_file_is_read_with_its_new_schema_and_values(spark, tmp_path):
    p = tmp_path / "lineitem.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2])}), str(p))
    assert Tables(spark, str(tmp_path)).lineitem.count() == 2
    pq.write_table(pa.table({"a": pa.array([5, 6, 7]), "b": pa.array(["x", "y", "z"])}),
                   str(p))
    df = Tables(spark, str(tmp_path)).lineitem
    assert df.schema.simpleString() == "struct<a:bigint,b:string>"
    assert sorted(df.collect()) == [(5, "x"), (6, "y"), (7, "z")]


def test_file_added_to_a_table_dir_is_seen(spark, tmp_path):
    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1, 2])}), str(d / "part-0.parquet"))
    assert Tables(spark, str(tmp_path)).lineitem.count() == 2
    (d / "_SUCCESS").write_text("")  # not listed by Spark: same version
    assert Tables(spark, str(tmp_path)).lineitem.count() == 2
    pq.write_table(pa.table({"a": pa.array([3])}), str(d / "part-1.parquet"))
    assert sorted(r.a for r in Tables(spark, str(tmp_path)).lineitem.collect()) == [1, 2, 3]


def test_memoized_schema_is_sparks_after_normalization(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    tbl = pa.table({
        "k": pa.array([1], type=pa.int32()),
        "s": pa.array(["x"]),
        "ts": pa.array([dt.datetime(2024, 1, 1)], type=pa.timestamp("us")),
        "st": pa.StructArray.from_arrays(
            [pa.array([dt.datetime(2024, 1, 2)], type=pa.timestamp("us"))], names=["t"]),
    })
    pq.write_table(tbl, p)
    read_parquet_normalized(spark, p)
    memoized = read_parquet_normalized(spark, p)
    inferred = spark.read.parquet(p).schema.json()
    assert memoized.schema == StructType.fromJson(
        json.loads(inferred.replace('"timestamp_ntz"', '"timestamp"')))


def test_unstattable_uri_is_read_on_every_call(spark, tmp_path):
    p = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1])}), str(p))
    uri = p.as_uri()
    assert read_parquet_normalized(spark, uri).count() == 1
    pq.write_table(pa.table({"a": pa.array([1, 2])}), str(p))
    assert read_parquet_normalized(spark, uri).count() == 2
