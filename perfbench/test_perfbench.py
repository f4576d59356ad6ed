"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pytest

from perfbench import datagen, formats, tracing, workloads


def _digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture
def small_bulk(monkeypatch):
    monkeypatch.setattr(datagen, "BULK_ROWS", 300)
    monkeypatch.setattr(datagen, "MIXED_BLOCKS", 2)


@pytest.mark.parametrize("workload", sorted(datagen.WRITERS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, small_bulk, workload):
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        datagen.load(workload, seed, str(tmp_path / tag))
        runs[tag] = _digest(str(tmp_path / tag / f"{workload}-{seed}"))
    assert runs["a"] and runs["a"] == runs["b"]
    assert runs["a"].keys() == runs["c"].keys()
    data = [k for k in runs["a"] if k != ".done"]
    assert all(runs["a"][k] != runs["c"][k] for k in data if not k.startswith(("region", "nation")))


def test_cached_inputs_are_reused_and_paths_resolved(tmp_path, small_bulk):
    first = datagen.load("mixed_backlog", 3, str(tmp_path))
    marker = tmp_path / "mixed_backlog-3" / ".done"
    stamp = marker.stat().st_mtime_ns
    again = datagen.load("mixed_backlog", 3, str(tmp_path))
    assert marker.stat().st_mtime_ns == stamp
    assert again == first
    assert all(os.path.isfile(op["path"]) for op in again["ops"] if op["op"] == "import")


def test_shared_stems_exist_in_every_block(tmp_path, small_bulk):
    m = datagen.load("mixed_backlog", 1, str(tmp_path))
    stems = [op["stem"] for op in m["ops"] if op["op"] == "import"]
    assert any(stems.count(s) >= 3 for s in stems)
    assert sum(op["op"] == "export" for op in m["ops"]) >= 4


def test_self_time_on_hand_built_tree():
    spans = [
        tracing.Span(1, "root", 0.0, 10.0, None, 1),
        tracing.Span(2, "a", 1.0, 3.0, 1, 1),
        tracing.Span(3, "b", 2.0, 5.0, 1, 1),  # overlaps a
        tracing.Span(4, "c", 8.0, 12.0, 1, 1),  # runs past its parent
        tracing.Span(5, "leaf", 3.0, 4.0, 3, 1),
        tracing.Span(6, "other-op", 0.0, 1.0, None, 2),
    ]
    got = tracing.self_times(spans)
    assert got[1] == pytest.approx(10.0 - (4.0 + 2.0))
    assert got[3] == pytest.approx(2.0)
    assert got[4] == pytest.approx(4.0)
    assert got[5] == pytest.approx(1.0)
    assert got[6] == pytest.approx(1.0)


def test_wrappers_record_spans_and_are_fully_removed():
    from cartodb_importer_spark import importer, naming
    from cartodb_importer_spark.readers import csv, router
    from cartodb_importer_spark.sinks import catalog, files

    before = {
        "sanitize": naming.sanitize,
        "valid": naming.get_valid_name,
        "route": router.route,
        "infer": csv.infer_column_types,
        "georef": importer.georeference_points,
        "run": importer.Importer.run,
        "export": files.export_kmz,
    }
    local_own = set(vars(catalog.LocalCatalog))
    tracer = tracing.Tracer()
    tracing.install_engine_spans(tracer)
    try:
        assert naming.sanitize is not before["sanitize"]
        assert "publish" in vars(catalog.LocalCatalog)
        tracer.begin_op(42)
        assert naming.sanitize_columns(["Ciudad Año", "x"]) == ["ciudad_ano", "x"]
    finally:
        tracer.restore()
    assert {s.name for s in tracer.spans} == {"naming.sanitize"}
    assert all(s.op == 42 for s in tracer.spans)
    after = {
        "sanitize": naming.sanitize,
        "valid": naming.get_valid_name,
        "route": router.route,
        "infer": csv.infer_column_types,
        "georef": importer.georeference_points,
        "run": importer.Importer.run,
        "export": files.export_kmz,
    }
    assert all(after[k] is before[k] for k in before)
    assert set(vars(catalog.LocalCatalog)) == local_own
    assert not any(
        hasattr(getattr(mod, name), "__perfbench_wrapped__")
        for mod in (naming, router, csv, importer, files)
        for name in dir(mod)
    )


def test_patch_rejects_non_functions():
    class Holder:
        value = 3

    with pytest.raises(TypeError):
        tracing.Tracer().patch(Holder, "value", "x")


def test_compare_frames():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.0]})
    b = pd.DataFrame({"v": [1.0, 0.5 + 1e-12], "k": [2, 1]})
    assert workloads.compare_frames(a, b) == ""
    assert "rows" in workloads.compare_frames(a, b.head(1))
    assert "values" in workloads.compare_frames(a, b.assign(v=[1.0, 0.6]))


def test_covering_prefix_reaches_every_kind():
    assert workloads.covering_prefix(["a", "b", "a", "c", "b"], str) == 4
    assert workloads.covering_prefix([], str) == 0


def test_throughput_credits_partial_ops():
    ops = [workloads.Op("import", "k", 0.0, 1.0, True),
           workloads.Op("import", "k", 1.0, 4.0, True)]
    win = workloads.Window(0.0, ops, seconds=2.0)
    assert win.throughput() == pytest.approx((1 + 1 / 3) / 2)


def test_published_counts_rows_and_geoms_from_parquet(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = tmp_path / "t"
    table.mkdir()
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int32()),
                             "the_geom": ["POINT (1 2)", None, "POINT (3 4)"]}),
                   table / "part-0.parquet")
    pq.write_table(pa.table({"id": pa.array([4], pa.int32()), "the_geom": [None]},
                            schema=pa.schema([("id", pa.int32()), ("the_geom", pa.string())])),
                   table / "part-1.parquet")
    (table / "_SUCCESS").write_bytes(b"")
    types, rows, geoms = workloads._published(str(tmp_path), "t")
    assert types == {"id": "int32", "the_geom": "string"}
    assert (rows, geoms) == (4, 2)


def test_dbf_header_counts_records():
    import struct

    data = formats.dbf_bytes([("ID", "N", 5, 0), ("NAME", "C", 8, 0)], [[1, "a"], [2, "b"]])
    assert struct.unpack("<I", data[4:8])[0] == 2
    assert data.endswith(b"\x1a")
