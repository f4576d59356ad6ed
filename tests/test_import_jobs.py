"""Spark job counts at the driver<->JVM boundary.

A driver-side reader hands its columns to Spark as one Arrow table, types
them on the driver and reports whether ``the_geom`` holds GeoJSON, so the
publish write is the only Spark job of an import of an XLSX, SHP zip, KML,
GPX or GeoJSON file. A KMZ or SHP export fetches its rows, under the
driver-side row cap, with one job.
"""

from __future__ import annotations

import json
import uuid
import zipfile

import pytest

from cartodb_importer_spark.importer import Importer
from cartodb_importer_spark.sinks import files as fsinks
from cartodb_importer_spark.sinks.catalog import LocalCatalog

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
