"""Golden bytes for the driver-side exporters: ``doc.kml`` of the KMZ and
the ``.shp``/``.shx``/``.dbf`` members of the SHP zip, for fixed tables
holding int, bigint, double, string, null, point, polygon (with a hole)
and multipolygon values. Any change to how the exporters fetch rows must
leave these bytes unchanged.

The DBF header stamps the export date into bytes 1-3; those are zeroed
before comparing. To regenerate after a deliberate format change:
``python tests/test_export_golden.py`` (needs a Spark session).
"""

from __future__ import annotations

import os
import sys
import zipfile

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "golden_export")

SCHEMA = "id int, big bigint, score double, name string, the_geom string"
POLY = (
    "POLYGON((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0), "
    "(1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 2.0, 1.0 1.0))"
)
MPOLY = (
    "MULTIPOLYGON(((10.0 10.0, 10.0 11.0, 11.5 11.0, 10.0 10.0)), "
    "((-3.25 -1.0, -3.25 2.0, 0.5 2.0, -3.25 -1.0)))"
)
TABLES = {
    # the first geometry sets the shapefile's shape type
    "points": [
        (1, 9007199254740993, 2.5, "alpha", "POINT(-3.7 40.1)"),
        (2, None, None, None, POLY),
        (3, -7, -0.125, "gamma", None),
        (4, 0, 1e-07, "", MPOLY),
        (None, 42, 123456789.0, "epsilon", "POINT(2.0 41.0)"),
    ],
    "polys": [
        (1, 1, 0.1, "ring", POLY),
        (2, 2, None, "multi", MPOLY),
        (3, 3, 3.0, None, "POINT(1.5 2.5)"),
        (4, None, -1e20, "none", None),
    ],
}


def _members(spark, out_dir: str) -> dict[str, bytes]:
    from cartodb_importer_spark.sinks.files import export_kmz, export_shp_zip

    got = {}
    for name, rows in TABLES.items():
        df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
        with zipfile.ZipFile(export_kmz(df, name, out_dir)) as zf:
            got[f"{name}.kml"] = zf.read("doc.kml")
        with zipfile.ZipFile(export_shp_zip(df, name, out_dir)) as zf:
            for ext in (".shp", ".shx", ".dbf"):
                data = zf.read(name + ext)
                if ext == ".dbf":
                    data = data[:1] + b"\x00\x00\x00" + data[4:]
                got[name + ext] = data
    return got


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    return _members(spark, str(tmp_path_factory.mktemp("golden_export")))


@pytest.mark.parametrize(
    "member",
    [f"{t}{ext}" for t in TABLES for ext in (".kml", ".shp", ".shx", ".dbf")],
)
def test_export_bytes_match_golden(exported, member):
    got = exported[member]
    with open(os.path.join(GOLDEN, member), "rb") as f:
        want = f.read()
    assert got == want


def test_fetched_values_render_like_collected_rows(spark, tmp_path):
    """Types whose Arrow values differ from a Row's (struct, map, binary,
    timestamp, nested) still render as str() of the Row value, for a table
    read back from parquet as the exporters receive it."""
    from cartodb_importer_spark.sinks.files import _fetch_capped, _texts

    spark.sql(
        "SELECT named_struct('a', 1, 'b', 'x') AS s,"
        " array(named_struct('c', 1.5D), NULL) AS arr, map('k', 1) AS m,"
        " X'0102' AS bin, TIMESTAMP'2020-01-02 03:04:05' AS ts,"
        " DATE'2020-01-02' AS d, CAST(1.50 AS DECIMAL(5,2)) AS dec,"
        " CAST(NULL AS STRING) AS n, true AS flag, 2.5F AS f, 7L AS l"
    ).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    table = _fetch_capped(df)
    rows = df.collect()
    for field in df.schema.fields:
        want = ["" if r[field.name] is None else str(r[field.name]) for r in rows]
        assert _texts(table.column(field.name), field.dataType) == want, field


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cartodb_importer_spark.session import get_spark

    os.makedirs(GOLDEN, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        for member, data in _members(get_spark(shuffle_partitions=4), tmp).items():
            with open(os.path.join(GOLDEN, member), "wb") as f:
                f.write(data)
