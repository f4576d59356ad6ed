"""Spark job counts at the driver<->JVM boundary.

A driver-side reader hands its columns to Spark as one Arrow table, types
them on the driver and reports whether ``the_geom`` holds GeoJSON, so the
publish write is the only Spark job of an import of an XLSX, SHP zip, KML,
GPX or GeoJSON file. A CSV import types its columns from the file head and
checks them inside the publish write: one job, or two when a cell past the
head moves a column up the lattice. A KMZ or SHP export fetches its rows,
under the driver-side row cap, with one job.
"""

from __future__ import annotations

import json
import os
import uuid
import zipfile

import numpy as np
import pytest

from cartodb_importer_spark.importer import Exporter, Importer
from cartodb_importer_spark.readers.tiff import encode_tiff_gray
from cartodb_importer_spark.sinks import files as fsinks
from cartodb_importer_spark.sinks import maintenance
from cartodb_importer_spark.sinks.catalog import LocalCatalog, _read_footer_typed

from test_excel import _make_xlsx


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` ran, counted under a job group of its own."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _kml(path):
    path.write_text(
        '<?xml version="1.0"?><kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        "<Placemark><name>a</name><Point><coordinates>1.5,2.5</coordinates></Point>"
        "</Placemark><Placemark><name>b</name><Point><coordinates>3.5,4.5</coordinates>"
        "</Point></Placemark></Document></kml>"
    )


def _gpx(path):
    path.write_text(
        '<?xml version="1.0"?>'
        '<gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">'
        '<trk><trkseg><trkpt lat="41.0" lon="2.0"><ele>1</ele></trkpt>'
        '<trkpt lat="41.1" lon="2.1"/></trkseg></trk></gpx>'
    )


def _geojson(path):
    features = [
        {"type": "Feature", "properties": {"n": i, "tags": {"k": [i, 0.5]}},
         "geometry": {"type": "Point", "coordinates": [i + 0.5, 1.5]}}
        for i in range(3)
    ]
    path.write_text(json.dumps({"type": "FeatureCollection", "features": features}))


def _shp_zip(spark, path):
    df = spark.createDataFrame(
        [(1, "x", "POINT(1.0 2.0)"), (2, "y", "POINT(3.0 4.0)")],
        "id int, name string, the_geom string",
    )
    out = fsinks.export_shp_zip(df, path.stem, str(path.parent))
    assert out == str(path)


@pytest.fixture
def catalog(tmp_path):
    return LocalCatalog(str(tmp_path / "warehouse"))


@pytest.mark.parametrize("name", ["t.xlsx", "t.zip", "t.kml", "t.gpx", "t.geojson"])
def test_driver_decoded_import_runs_one_job(spark, catalog, tmp_path, name):
    path = tmp_path / name
    {
        ".xlsx": _make_xlsx,
        ".zip": lambda p: _shp_zip(spark, p),
        ".kml": _kml,
        ".gpx": _gpx,
        ".geojson": _geojson,
    }[path.suffix](path)
    results = []
    importer = Importer(spark, catalog, str(path))
    assert _jobs(spark, lambda: results.append(importer.run())) == 1
    assert results[0].rows_imported >= 2


def _csv(path, rows: int, late: str | None = None):
    lines = ["id,v,name,lat,lon"]
    lines += [f"{i},{i % 7},n{i},{i % 90}.5,{i % 180}.25" for i in range(rows)]
    if late is not None:
        lines[-1] = f"{rows - 1},{late},n,1.5,2.5"
    path.write_text("\n".join(lines) + "\n")


def test_csv_import_runs_one_job(spark, catalog, tmp_path):
    path = tmp_path / "t.csv"
    _csv(path, 200)
    results = []
    importer = Importer(spark, catalog, str(path))
    assert _jobs(spark, lambda: results.append(importer.run())) == 1
    assert results[0].rows_imported == 200


def test_csv_type_change_past_the_head_runs_two_jobs(spark, catalog, tmp_path):
    path = tmp_path / "t.csv"
    _csv(path, 4000, late="text")
    assert path.stat().st_size > 1 << 16
    results = []
    importer = Importer(spark, catalog, str(path))
    assert _jobs(spark, lambda: results.append(importer.run())) == 2
    assert results[0].rows_imported == 4000
    published = catalog.read(spark, results[0].name)
    assert dict(published.dtypes)["v"] == "string"


@pytest.mark.parametrize("export", [fsinks.export_kmz, fsinks.export_shp_zip])
def test_driver_side_export_runs_one_job(spark, catalog, tmp_path, export):
    df = spark.createDataFrame(
        [(i, f"n{i}", f"POINT({i}.5 1.0)") for i in range(40)],
        "id int, name string, the_geom string",
    ).repartition(4)
    catalog.publish(df, "pts")
    table = catalog.read(spark, "pts")
    out = []
    assert _jobs(spark, lambda: out.append(export(table, "pts", str(tmp_path)))) == 1
    with zipfile.ZipFile(out[0]) as zf:
        assert len(zf.namelist()) >= 1


def _write(spark, path):
    """A small file of the format ``path``'s suffix names."""
    {
        ".csv": lambda p: _csv(p, 20),
        ".xlsx": _make_xlsx,
        ".zip": lambda p: _shp_zip(spark, p),
        ".kml": _kml,
        ".gpx": _gpx,
        ".geojson": _geojson,
        ".jsonl": lambda p: p.write_text(
            '{"a": 1, "b": "x", "c": [1, 2], "d": {"e": 0.5}}\n{"a": 2, "c": []}\n'),
        ".orc": lambda p: spark.createDataFrame(
            [(1, "x", [1.5])], "id int, name string, v array<double>").write.orc(str(p)),
        ".tif": lambda p: p.write_bytes(encode_tiff_gray(
            np.arange(12, dtype=np.uint8).reshape(3, 4), srid=4326)),
    }[path.suffix](path)


@pytest.mark.parametrize("name", [
    "t.csv", "t.xlsx", "t.zip", "t.kml", "t.gpx", "t.geojson", "t.jsonl", "t.orc", "t.tif"])
def test_catalog_read_schema_is_what_spark_infers(spark, catalog, tmp_path, name):
    path = tmp_path / name
    _write(spark, path)
    table = Importer(spark, catalog, str(path)).run().name
    read = []
    assert _jobs(spark, lambda: read.append(catalog.read(spark, table))) == 0
    assert read[0].schema == spark.read.parquet(catalog._path(table)).schema


def test_compacted_table_base_is_read_without_inference(spark, catalog):
    df = spark.createDataFrame(
        [(i, f"n{i}", [i * 0.5]) for i in range(8)], "id int, name string, v array<double>")
    for b in range(4):
        catalog.replace_batch(df.filter(f"id % 4 = {b}"), "t", b)
    maintenance.compact_batches(spark, catalog, "t", keep_after_batch_id=3)
    base = LocalCatalog._effective_base(catalog._path("t"))
    assert base is not None and catalog.batch_ids("t") == [3]
    read = []
    # one partition-discovery job for the batch dir left after the base;
    # the base itself takes its schema from a part file's footer
    assert _jobs(spark, lambda: read.append(catalog.read(spark, "t"))) == 1
    assert sorted(r.id for r in read[0].collect()) == list(range(8))
    assert _read_footer_typed(spark, base).schema == spark.read.parquet(base).schema


def test_csv_export_runs_one_job(spark, catalog, tmp_path):
    path = tmp_path / "t.csv"
    _csv(path, 50)
    table = Importer(spark, catalog, str(path)).run().name
    out = []
    exporter = Exporter(spark, catalog, table, "csv", str(tmp_path / "out"))
    assert _jobs(spark, lambda: out.append(exporter.run())) == 1
    with zipfile.ZipFile(out[0].path) as zf:
        assert len(zf.read(f"{table}.csv").decode().splitlines()) == 51
