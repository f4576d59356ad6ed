"""Structured Streaming tests: drive real readStream micro-batches through
the shared window/dedup builders and assert batch equivalence (SURVEY §7
risk 7 — deterministic, no wall-clock triggers)."""

import shutil

import pytest

from cartodb_importer_spark.streaming import streams as S


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Split sf0.001 events into 3 parquet files so the file stream has
    multiple micro-batches."""
    from cartodb_importer_spark.queries import read_parquet_normalized

    src = read_parquet_normalized(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    d = str(tmp_path_factory.mktemp("events_stream"))
    src.repartition(3).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(spark, stream_df, name, output_mode):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def _canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    stream_df = S.read_events_stream(spark, events_dir)
    expected = S.tumbling_counts(batch_df)
    got = _drain(spark, S.tumbling_counts(stream_df), "t_tumbling", "complete")
    cols = ["window_start", "window_end", "event_type", "n", "total_value"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_sliding_stream_equals_batch(spark, events_dir):
    batch_df = spark.read.parquet(events_dir)
    stream_df = S.read_events_stream(spark, events_dir)
    expected = S.sliding_counts(batch_df)
    got = _drain(spark, S.sliding_counts(stream_df), "t_sliding", "complete")
    cols = ["window_start", "window_end", "n"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_session_stream_equals_batch(spark, events_dir):
    # Micro-batch file splits are not time-ordered, so a tight watermark
    # would (correctly) drop "late" arrivals; equivalence needs a watermark
    # wider than the data span. Late-drop semantics are covered separately
    # by the stream_late_data_filter oracle query.
    batch_df = spark.read.parquet(events_dir)
    stream_df = S.read_events_stream(spark, events_dir)
    expected = S.session_counts(batch_df)
    got = _drain(
        spark,
        S.session_counts(stream_df, watermark="3650 days"),
        "t_session",
        "complete",
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_streaming_dedup(spark, events_dir, tmp_path):
    """Duplicate every event across two files; the watermarked streaming
    dedup must restore exact-once."""
    src = spark.read.parquet(events_dir)
    dup_dir = str(tmp_path / "dup")
    src.coalesce(1).write.mode("overwrite").parquet(dup_dir)
    src.coalesce(1).write.mode("append").parquet(dup_dir)
    stream_df = S.read_events_stream(spark, dup_dir)
    got = _drain(spark, S.dedup_events(stream_df), "t_dedup", "append")
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()

def test_stateful_running_totals(spark, events_dir):
    """applyInPandasWithState: the stream's LAST emitted row per user must
    equal the batch aggregate (state accumulates across micro-batches)."""
    from pyspark.sql import functions as F

    from cartodb_importer_spark.streaming.stateful import (
        batch_user_totals, running_user_totals,
    )

    stream_df = S.read_events_stream(spark, events_dir)
    q = (
        running_user_totals(stream_df)
        .writeStream.format("memory")
        .queryName("t_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # memory sink in update mode appends each emission; keep the final
    # (max n_events) row per user
    emitted = spark.table("t_stateful")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    final = (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    expected = batch_user_totals(spark.read.parquet(events_dir))
    cols = ["user_id", "n_events", "total_value"]
    assert _canon(final, cols) == _canon(expected, cols)


def test_foreach_batch_to_catalog_with_checkpoint_recovery(spark, tmp_path):
    """Stream files into a LocalCatalog via foreachBatch; restarting from
    the checkpoint after new data arrives must process ONLY the new file
    (no reprocessing, no duplicates) — the exactly-once contract."""
    from cartodb_importer_spark.queries import read_parquet_normalized
    from cartodb_importer_spark.sinks.catalog import LocalCatalog
    from cartodb_importer_spark.streaming.sinks import stream_to_catalog

    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    cat = LocalCatalog(str(tmp_path / "wh"))
    events = read_parquet_normalized(
        spark, "/root/testdata/sf0.001/events.parquet"
    )
    first = events.filter("event_id < 400")
    second = events.filter("event_id >= 400 AND event_id < 700")
    third = events.filter("event_id >= 700")

    first.coalesce(1).write.mode("overwrite").parquet(src_dir)
    second.coalesce(1).write.mode("append").parquet(src_dir)

    stream = S.read_events_stream(spark, src_dir)
    q = stream_to_catalog(stream, cat, "landed", ckpt)
    q.awaitTermination()
    n1 = cat.read(spark, "landed").count()
    assert n1 == first.count() + second.count()

    # new file arrives; restart from the same checkpoint
    third.coalesce(1).write.mode("append").parquet(src_dir)
    stream2 = S.read_events_stream(spark, src_dir)
    q2 = stream_to_catalog(stream2, cat, "landed", ckpt)
    q2.awaitTermination()
    landed = cat.read(spark, "landed")
    assert landed.count() == events.count()
    assert landed.select("event_id").distinct().count() == events.count()


def test_stream_stream_interval_join(spark, events_dir):
    """Stream-stream join (purchases x subsequent errors within 1h per
    user) equals the batch interval join."""
    from cartodb_importer_spark.streaming.streams import (
        purchase_to_error_join, read_events_stream,
    )

    batch = spark.read.parquet(events_dir)
    bp = batch.filter("event_type = 'purchase'")
    be = batch.filter("event_type = 'error'")
    expected = purchase_to_error_join(bp, be)

    sp = read_events_stream(spark, events_dir).filter("event_type = 'purchase'")
    se = read_events_stream(spark, events_dir).filter("event_type = 'error'")
    joined = purchase_to_error_join(sp, se, watermark="40 days")
    got = _drain(spark, joined, "t_ssjoin", "append")
    cols = ["user_id", "purchase_id", "error_id"]
    assert _canon(got, cols) == _canon(expected, cols)
    assert got.count() > 0  # non-trivial join


def test_stateful_sessionize_with_timeout(spark, events_dir):
    """Custom stateful sessionizer: closed sessions emitted by the stream
    must equal the batch gaps-and-islands sessions, except each user's
    trailing session (still open in state when the availableNow stream
    exhausts — the 30-day watermark deliberately never fires the timeout
    here, so the cross-batch gap logic is what's under test)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cartodb_importer_spark.streaming.stateful import (
        batch_sessions, sessionize_events,
    )

    gap = 600  # 10 min: sf0.001 events are sparse enough to split sessions

    # Sessionization assumes watermark-bounded arrival order; build
    # time-range micro-batches (written sequentially so the file source
    # triggers them oldest-first), unlike the random-split events_dir.
    import glob
    import os
    import shutil
    import time

    src = spark.read.parquet(events_dir)
    b_us = src.selectExpr(
        "percentile(unix_micros(ts), array(0.33, 0.66)) AS b"
    ).first()["b"]
    import datetime as _dt

    bounds = [
        _dt.datetime.utcfromtimestamp(v / 1e6) for v in b_us
    ]
    d = events_dir + "_ordered"
    os.makedirs(d, exist_ok=True)
    from pyspark.sql import functions as FF

    chunks = [
        src.filter(FF.col("ts") < bounds[0]),
        src.filter((FF.col("ts") >= bounds[0]) & (FF.col("ts") < bounds[1])),
        src.filter(FF.col("ts") >= bounds[1]),
    ]
    for i, ch in enumerate(chunks):
        tmp = f"{d}_tmp{i}"
        ch.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(part, f"{d}/b{i}.parquet")
        shutil.rmtree(tmp)
        time.sleep(1.1)  # distinct mtimes -> deterministic trigger order
    stream_df = S.read_events_stream(spark, d)
    q = (
        sessionize_events(stream_df, gap_sec=gap)
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("t_sessions")

    batch = batch_sessions(spark.read.parquet(events_dir), gap_sec=gap)
    w = Window.partitionBy("user_id").orderBy(F.desc("session_start"))
    expected = (
        batch.withColumn("rn", F.row_number().over(w))
        .filter("rn > 1")  # drop each user's final (open) session
        .drop("rn")
    )
    cols = [
        "user_id", "session_start", "session_end", "n_events", "total_value"
    ]
    got = _canon(emitted, cols)
    want = _canon(expected, cols)
    assert len(got) > 50  # sanity: the gap actually splits sessions
    assert got == want


def test_rate_micro_batch_events_stream(spark):
    """Rate-source ingest: the deterministic rate-micro-batch generator
    feeds the same tumbling-window pipeline the file source does. Batch 0
    is fully determined by the options, so row content is asserted, not
    just counted."""
    import time as _time

    stream = S.read_rate_micro_batch_events(
        spark, rows_per_batch=30, advance_ms_per_batch=60_000
    )
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    q = (
        stream.writeStream.format("memory")
        .queryName("t_rate_events")
        .outputMode("append")
        .start()
    )
    try:
        deadline = _time.time() + 60
        while _time.time() < deadline:
            if spark.table("t_rate_events").count() >= 30:
                break
            _time.sleep(0.5)
        got = {r["event_id"]: r for r in spark.table("t_rate_events").collect()}
    finally:
        q.stop()
    assert len(got) >= 30
    r7 = got[7]
    assert r7["user_id"] == 7
    assert r7["event_type"] == "view"  # 7 % 3 = 1 -> index 2
    assert r7["props"] == '{"k":0}'    # 7 % 7
    # deterministic synthetic attrs: regeneration yields identical values
    assert got[4]["event_type"] == "view" and got[5]["event_type"] == "purchase"


def test_kafka_reader_shape(spark):
    """The Kafka reader needs the connector jar; absent it must fail at
    load() with the unresolvable-data-source error — not silently produce
    a wrong-shaped frame. (On a real cluster the same call returns the
    events schema; covered by the rate-source pipeline equivalence.)"""
    import pytest as _pytest

    try:
        df = S.read_kafka_events(spark, "localhost:9092", "events")
    except Exception as e:
        assert "kafka" in str(e).lower()
        return
    # connector present: the parsed frame must match the events schema
    assert [f.name for f in df.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]


def test_transform_with_state_topk(spark, events_dir):
    """Spark 4 transformWithStateInPandas: per-user top-3 values tracked
    in a RocksDB-backed ValueState across micro-batches must equal the
    batch top-3 (state survives batch boundaries; n_seen picks each
    user's final changelog row)."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip(
            "transformWithState's state protocol needs google.protobuf, "
            "absent in this container"
        )
    from pyspark.sql import Window, functions as F

    from cartodb_importer_spark.streaming.stateful import user_topk_values

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream_df = S.read_events_stream(spark, events_dir)
        q = (
            user_topk_values(stream_df, k=3)
            .writeStream.format("memory")
            .queryName("t_topk")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        emitted = spark.table("t_topk")
        w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
        final = (
            emitted.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("user_id", "topk")
        )
        got = {r["user_id"]: [round(v, 6) for v in r["topk"]] for r in final.collect()}
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    batch = spark.read.parquet(events_dir)
    wb = Window.partitionBy("user_id").orderBy(F.desc("value"))
    expect_df = (
        batch.filter(F.col("value").isNotNull())
        .withColumn("rn", F.row_number().over(wb))
        .filter("rn <= 3")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("value"), asc=False).alias("topk"))
    )
    want = {r["user_id"]: [round(v, 6) for v in r["topk"]] for r in expect_df.collect()}
    assert len(got) > 10
    assert got == want


def test_stateful_rate_limit_equals_batch(spark, events_dir):
    """Streaming rate limiter (stateful hour-quota counter) must emit the
    same per-event admission verdicts as the batch window query, across
    micro-batch boundaries (time-range ordered batches)."""
    import datetime as _dt
    import glob
    import os
    import shutil
    import time

    from cartodb_importer_spark.queries import QUERIES
    from cartodb_importer_spark.streaming.stateful import rate_limit_events

    src = spark.read.parquet(events_dir)
    b_us = src.selectExpr(
        "percentile(unix_micros(ts), array(0.33, 0.66)) AS b"
    ).first()["b"]
    bounds = [_dt.datetime.utcfromtimestamp(v / 1e6) for v in b_us]
    d = events_dir + "_rl_ordered"
    os.makedirs(d, exist_ok=True)
    from pyspark.sql import functions as FF

    chunks = [
        src.filter(FF.col("ts") < bounds[0]),
        src.filter((FF.col("ts") >= bounds[0]) & (FF.col("ts") < bounds[1])),
        src.filter(FF.col("ts") >= bounds[1]),
    ]
    for i, ch in enumerate(chunks):
        tmp = f"{d}_tmp{i}"
        ch.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(part, f"{d}/b{i}.parquet")
        shutil.rmtree(tmp)
        time.sleep(1.1)
    stream_df = S.read_events_stream(spark, d)
    q = (
        rate_limit_events(stream_df, limit=3)
        .writeStream.format("memory")
        .queryName("t_ratelimit")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    cols = ["event_id", "user_id", "slot_seq", "admitted"]
    got = _canon(spark.table("t_ratelimit"), cols)
    from pyspark.sql import Window

    w = Window.partitionBy(
        "user_id", FF.date_trunc("hour", FF.col("ts"))
    ).orderBy("ts", "event_id")
    rn = FF.row_number().over(w)
    want = _canon(
        src.select(
            "event_id",
            "user_id",
            rn.alias("slot_seq"),
            (rn <= 3).cast("int").alias("admitted"),
        ),
        cols,
    )
    assert len(got) == len(want) and len(got) > 100
    assert got == want


def test_stream_static_join_equals_batch(spark, events_dir):
    """Stream-static dimension enrichment: joining the stream against a
    static dim broadcast must produce exactly the batch join's rows."""
    batch_df = spark.read.parquet(events_dir)
    dim = S.user_tier_dim(batch_df)
    expected = S.enrich_with_user_dim(batch_df, dim)
    stream_df = S.read_events_stream(spark, events_dir)
    q = (
        S.enrich_with_user_dim(stream_df, dim)
        .writeStream.format("memory")
        .queryName("t_stream_static")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_stream_static")
    cols = ["event_id", "user_id", "event_type", "value", "tier"]
    assert _canon(got, cols) == _canon(expected, cols)


def test_append_mode_emits_watermark_closed_windows(spark, tmp_path):
    """Append-mode + watermark over IN-ORDER file arrival: emitted rows
    are exactly the batch aggregation restricted to windows the final
    batch's watermark closed — and the open tail is withheld.

    File arrival must be time-ordered: the watermark both gates emission
    AND drops late rows, so out-of-order files (each spanning the whole
    range) would legitimately lose early-window counts — that behavior
    is pinned separately by the late-data filter test."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    from cartodb_importer_spark.queries import read_parquet_normalized

    src = read_parquet_normalized(
        spark, "/root/testdata/sf0.001/events.parquet"
    ).orderBy("ts")
    lo, hi = src.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    span = (hi - lo) / 3
    d = str(tmp_path / "ordered_events")
    for i in range(3):
        a = lo + i * span
        b = hi if i == 2 else lo + (i + 1) * span
        chunk = src.filter(
            (F.col("ts") >= a) & (F.col("ts") <= b)
            if i == 2
            else (F.col("ts") >= a) & (F.col("ts") < b)
        )
        chunk.coalesce(1).write.mode("append").parquet(d)
        time.sleep(1.1)  # distinct modification times => in-order arrival

    stream_df = S.read_events_stream(spark, d)
    q = (
        S.tumbling_counts(stream_df, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("t_append_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wms = sorted(
        {
            dt.datetime.strptime(w, "%Y-%m-%dT%H:%M:%S.%fZ")
            for p in q.recentProgress
            for w in [p["eventTime"].get("watermark")]
            if w
        }
    )
    assert wms, "no watermark reported"
    wm_final = wms[-1]
    got = spark.table("t_append_wm")
    batch_df = spark.read.parquet(d)
    cols = ["window_start", "window_end", "event_type", "n", "total_value"]
    expected = S.tumbling_counts(batch_df).filter(
        f"window_end <= '{wm_final}'"
    )
    assert _canon(got, cols) == _canon(expected, cols)
    # the open tail was genuinely withheld
    assert len(got.collect()) < len(S.tumbling_counts(batch_df).collect())


def test_continuous_csv_import(spark, tmp_path):
    """streaming/ingest.py: the reference's CSV pipeline as a file-source
    stream — files landing in a directory become catalog rows with
    sanitized names, inferred types, and georeferenced points; a file
    arriving AFTER the first run is picked up by the next trigger from
    the same checkpoint."""
    import os

    from cartodb_importer_spark.sinks.catalog import LocalCatalog
    from cartodb_importer_spark.streaming.ingest import (
        plan_csv_ingest, stream_import_csv,
    )

    land = tmp_path / "landing"
    os.makedirs(land)
    (land / "a.csv").write_text(
        "Store Num,Latitude,Longitude,Sales\n1,40.1,-3.7,10\n2,41.4,2.1,20\n"
    )
    (land / "b.csv").write_text(
        "Store Num,Latitude,Longitude,Sales\n3,48.8,2.3,30\n"
    )
    catalog = LocalCatalog(str(tmp_path / "wh"))
    ckpt = str(tmp_path / "ckpt")

    schema, types, options = plan_csv_ingest(spark, str(land))
    assert [f.name for f in schema] == [
        "store_num", "latitude", "longitude", "sales",
    ]
    assert types["store_num"] == "integer" and types["latitude"] == "float"
    assert options["sep"] == "," and options["header"] == "true"

    q = stream_import_csv(
        spark, str(land), catalog, "stores", ckpt,
        schema=schema, types=types, options=options,
    )
    q.awaitTermination()
    got = catalog.read(spark, "stores")
    rows = {r["store_num"]: r for r in got.collect()}
    assert len(rows) == 3
    assert rows[1]["the_geom"] == "POINT(-3.7 40.1)"
    assert dict(got.dtypes)["sales"] == "int"

    # late-arriving file: same checkpoint, next availableNow run ingests
    # only the new file (no duplicates of the first three rows)
    (land / "c.csv").write_text(
        "Store Num,Latitude,Longitude,Sales\n4,52.5,13.4,40\n"
    )
    q2 = stream_import_csv(
        spark, str(land), catalog, "stores", ckpt,
        schema=schema, types=types, options=options,
    )
    q2.awaitTermination()
    rows = {r["store_num"]: r for r in
            catalog.read(spark, "stores").collect()}
    assert sorted(rows) == [1, 2, 3, 4]
    assert rows[4]["the_geom"] == "POINT(13.4 52.5)"


def test_continuous_csv_import_semicolon_dialect(spark, tmp_path):
    """Review fix: the planned dialect (here ';' delimiter) must reach
    both the inference union read and the stream itself — with default
    options every line would land in column 1."""
    import os

    from cartodb_importer_spark.sinks.catalog import LocalCatalog
    from cartodb_importer_spark.streaming.ingest import stream_import_csv

    land = tmp_path / "landing"
    os.makedirs(land)
    (land / "a.csv").write_text("name;qty\nbolt;5\nnut;7\n")
    catalog = LocalCatalog(str(tmp_path / "wh"))
    q = stream_import_csv(
        spark, str(land), catalog, "parts_sc", str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = catalog.read(spark, "parts_sc")
    assert set(got.columns) >= {"name", "qty"}
    rows = {r["name"]: r["qty"] for r in got.collect()}
    assert rows == {"bolt": 5, "nut": 7}
    assert dict(got.dtypes)["qty"] == "int"


def test_continuous_csv_import_headerless_bom(spark, tmp_path):
    """ADVICE r4: a headerless utf-8-sig landing zone streams the ORIGINAL
    files (the batch planner's BOM-stripped staging copy never enters the
    stream), so without the per-row strip each file's first cell keeps a
    leading U+FEFF and the numeric cast nulls it out."""
    import os

    from cartodb_importer_spark.sinks.catalog import LocalCatalog
    from cartodb_importer_spark.streaming.ingest import stream_import_csv

    land = tmp_path / "landing"
    os.makedirs(land)
    (land / "a.csv").write_bytes(b"\xef\xbb\xbf10,5\n20,7\n")
    (land / "b.csv").write_bytes(b"\xef\xbb\xbf30,9\n")
    catalog = LocalCatalog(str(tmp_path / "wh"))
    q = stream_import_csv(
        spark, str(land), catalog, "bom_zone", str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    got = catalog.read(spark, "bom_zone")
    rows = {r["field_1"]: r["field_2"] for r in got.collect()}
    # every file's FIRST row must parse numeric — a surviving BOM would
    # null field_1 for 10 and 30
    assert rows == {10: 5, 20: 7, 30: 9}
    assert dict(got.dtypes)["field_1"] == "int"


def test_plan_csv_ingest_leaves_no_staged_copy(spark, tmp_path, monkeypatch):
    """Planning a CR-only landing zone stages a newline-normalized copy of
    the seed file to read its header; the copy is gone once the plan
    returns."""
    import os
    import tempfile

    from cartodb_importer_spark.streaming.ingest import plan_csv_ingest

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    land = tmp_path / "landing"
    land.mkdir()
    (land / "mac.csv").write_bytes(b"id,name\r1,a\r2,b\r")
    schema, _, _ = plan_csv_ingest(spark, str(land))
    assert schema.names == ["id", "name"]
    assert [d for d in os.listdir(scratch) if d.startswith("cartodb_csv_")] == []


def test_replace_batch_idempotent_and_o_batch(spark, tmp_path):
    """replace_batch contract (streaming/sinks.py exactly-once building
    block): replaying a batch_id replaces exactly its own rows; other
    batches are untouched. LocalCatalog's override must land each batch as
    a __batch_id=N partition directory (O(batch) per trigger — the base
    rewrite is O(table)), and the generic base implementation must give
    the same visible table state."""
    import os

    from cartodb_importer_spark.sinks.catalog import Catalog, LocalCatalog

    def drive(cat):
        b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        b1 = spark.createDataFrame([(3, "c")], "id long, v string")
        cat.replace_batch(b0, "t", 0)
        cat.replace_batch(b1, "t", 1)
        # replay batch 1 with different content — must REPLACE, not append
        b1r = spark.createDataFrame([(4, "d"), (5, "e")], "id long, v string")
        cat.replace_batch(b1r, "t", 1)
        got = cat.read(spark, "t")
        assert "__batch_id" in got.columns
        return sorted((r["id"], r["v"]) for r in got.collect())

    local = LocalCatalog(str(tmp_path / "wh_local"))
    assert drive(local) == [(1, "a"), (2, "b"), (4, "d"), (5, "e")]
    # physical layout: one partition dir per batch, nothing else
    tdir = os.path.join(str(tmp_path / "wh_local"), "t")
    parts = sorted(d for d in os.listdir(tdir) if d.startswith("__batch_id="))
    assert parts == ["__batch_id=0", "__batch_id=1"]

    # base-implementation fallback (any catalog without a cheap primitive)
    class BaseOnly(LocalCatalog):
        replace_batch = Catalog.replace_batch

    generic = BaseOnly(str(tmp_path / "wh_generic"))
    assert drive(generic) == [(1, "a"), (2, "b"), (4, "d"), (5, "e")]


def test_replace_batch_survives_crashed_staging_leftover(spark, tmp_path):
    """ADVICE r09: a crash after the base implementation's staging write
    left ``{name}__rewrite`` behind, and every later trigger's
    errorifexists write then failed until manual cleanup. A leftover
    staging table must be dropped, not wedge the stream."""
    from cartodb_importer_spark.sinks.catalog import Catalog, LocalCatalog

    class BaseOnly(LocalCatalog):
        replace_batch = Catalog.replace_batch

    cat = BaseOnly(str(tmp_path / "wh"))
    b0 = spark.createDataFrame([(1, "a")], "id long, v string")
    cat.replace_batch(b0, "t", 0)
    # simulate the crash window: a stale staging table from a dead trigger
    cat.write(spark.createDataFrame([(99, "zz")], "id long, v string"),
              "t__rewrite")
    b1 = spark.createDataFrame([(2, "b")], "id long, v string")
    cat.replace_batch(b1, "t", 1)  # used to raise: staging already exists
    got = sorted(
        (r["id"], r["v"]) for r in cat.read(spark, "t").collect()
    )
    assert got == [(1, "a"), (2, "b")]
    assert "t__rewrite" not in cat.table_names()


# --------------------------------------------------------------- properties
# r09's throughput rehearsal found the sessionizer crashing with
# INVALID_TIMEOUT_TIMESTAMP whenever a micro-batch spanned more event time
# than the watermark delay (a backfill batch expires its own early users'
# sessions). The example test above locks that instance; this property
# test locks the CLASS: for ANY two batch time-spans — overlapping,
# disjoint, late, or wider than the delay — the stream must complete and
# emit well-formed, non-duplicated sessions (VERDICT r09 item 6).

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@given(
    delay_sec=hst.integers(min_value=5, max_value=120),
    gap_sec=hst.integers(min_value=5, max_value=120),
    span1=hst.integers(min_value=1, max_value=900),
    jump=hst.integers(min_value=-600, max_value=1800),
    span2=hst.integers(min_value=1, max_value=900),
    offs1=hst.lists(
        hst.tuples(hst.integers(0, 3), hst.floats(0, 1)), min_size=1, max_size=10
    ),
    offs2=hst.lists(
        hst.tuples(hst.integers(0, 3), hst.floats(0, 1)), min_size=1, max_size=10
    ),
)
@settings(
    max_examples=4,  # ~20s/example (full streaming query per draw)
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sessionizer_survives_any_batch_time_span(
    spark, delay_sec, gap_sec, span1, jump, span2, offs1, offs2
):
    import datetime
    import glob as _glob
    import os
    import shutil
    import tempfile
    import uuid as _uuid

    from cartodb_importer_spark.streaming.stateful import sessionize_events

    base = datetime.datetime(2024, 1, 1)

    def rows(offsets, span, start, first_id):
        out = []
        for i, (user, frac) in enumerate(offsets):
            ts = base + datetime.timedelta(seconds=start + frac * span)
            out.append(
                (first_id + i, ts, user, "click", 1.0, "{}")
            )
        return out

    batches = [
        rows(offs1, span1, 0, 0),
        rows(offs2, span2, jump, 1000),
    ]
    d = tempfile.mkdtemp(prefix="prop_sess_")
    try:
        for i, b in enumerate(batches):
            df = spark.createDataFrame(b, S.EVENTS_SCHEMA)
            tmp = os.path.join(d, f"tmp{i}")
            df.coalesce(1).write.parquet(tmp)
            part = _glob.glob(f"{tmp}/part-*.parquet")[0]
            dst = os.path.join(d, f"b{i}.parquet")
            shutil.copy(part, dst)
            shutil.rmtree(tmp)
            # explicit mtimes -> deterministic trigger order, no sleeping
            os.utime(dst, (1700000000 + i * 10, 1700000000 + i * 10))
        qname = f"prop_sess_{_uuid.uuid4().hex[:8]}"
        q = (
            sessionize_events(
                S.read_events_stream(spark, d),
                gap_sec=gap_sec,
                watermark=f"{delay_sec} seconds",
            )
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()  # the r09 crash class surfaces here
        emitted = spark.table(qname).collect()
        seen = set()
        for r in emitted:
            assert r["session_end"] >= r["session_start"]
            assert r["n_events"] >= 1
            key = (r["user_id"], r["session_start"])
            assert key not in seen, f"duplicate session {key}"
            seen.add(key)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_generic_replace_batch_crash_between_renames_recovers(spark, tmp_path):
    """VERDICT r10 finding 3: the portable replace_batch used to
    drop-then-rename, so a crash between the two lost the live table
    outright. The rename-aside protocol keeps the data recoverable at
    every crash point: the next trigger restores the aside table and the
    replayed batch lands exactly once."""
    from cartodb_importer_spark.sinks.catalog import Catalog, LocalCatalog

    class BaseOnly(LocalCatalog):
        replace_batch = Catalog.replace_batch

    class Boom(Exception):
        pass

    cat = BaseOnly(str(tmp_path / "wh"))
    b0 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    cat.replace_batch(b0, "t", 0)

    # crash exactly between rename(name -> aside) and rename(staging -> name)
    real_rename, calls = cat.rename, {"n": 0}

    def crashing_rename(old, new):
        calls["n"] += 1
        if calls["n"] == 2:
            raise Boom()
        real_rename(old, new)

    cat.rename = crashing_rename
    b1 = spark.createDataFrame([(3, "c")], "id long, v string")
    import pytest as _pt

    with _pt.raises(Boom):
        cat.replace_batch(b1, "t", 1)
    cat.rename = real_rename

    # crashed state: live name gone, but the aside table holds batch 0
    assert not cat.exists("t") and cat.exists("t__replaced")

    # the engine replays batch 1: recovery restores, then the swap lands
    cat.replace_batch(b1, "t", 1)
    got = sorted((r["id"], r["v"]) for r in cat.read(spark, "t").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert not cat.exists("t__replaced") and not cat.exists("t__rewrite")

    # crash AFTER the rename-in (before the aside drop): stale aside must
    # be cleared by the next trigger, never restored over live data
    cat.write(spark.createDataFrame([(9, "z")], "id long, v string"),
              "t__replaced")
    b2 = spark.createDataFrame([(4, "d")], "id long, v string")
    cat.replace_batch(b2, "t", 2)
    got = sorted((r["id"], r["v"]) for r in cat.read(spark, "t").collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    assert not cat.exists("t__replaced")
