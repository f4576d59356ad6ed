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


def test_kmz_escapes_markup_in_names_and_values(spark, tmp_path):
    import xml.etree.ElementTree as ET

    from pyspark.sql import types as st

    from cartodb_importer_spark.sinks.files import export_kmz

    values = ["Fish & Chips <Ltd>", 'say "hi"', "a > b", "plain"]
    schema = st.StructType(
        [
            st.StructField('n&<"m">', st.StringType()),
            st.StructField("the_geom", st.StringType()),
        ]
    )
    df = spark.createDataFrame([(v, "POINT(1.0 2.0)") for v in values], schema)
    with zipfile.ZipFile(export_kmz(df, "esc", str(tmp_path))) as zf:
        root = ET.fromstring(zf.read("doc.kml"))
    ns = "{http://www.opengis.net/kml/2.2}"
    data = root.iter(f"{ns}Data")
    got = [(d.get("name"), d.find(f"{ns}value").text) for d in data]
    assert got == [('n&<"m">', v) for v in values]


if __name__ == "__main__":
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from cartodb_importer_spark.session import get_spark

    os.makedirs(GOLDEN, exist_ok=True)
    with tempfile.TemporaryDirectory() as tmp:
        for member, data in _members(get_spark(shuffle_partitions=4), tmp).items():
            with open(os.path.join(GOLDEN, member), "wb") as f:
                f.write(data)


_KINDS_KML = """<kml xmlns="http://www.opengis.net/kml/2.2"><Document>
<Placemark><name>point</name><Point><coordinates>1,2</coordinates></Point></Placemark>
<Placemark><name>line</name><LineString><coordinates>0,0 1,1 2,0</coordinates></LineString></Placemark>
<Placemark><name>polygon</name><Polygon>
  <outerBoundaryIs><LinearRing><coordinates>0,0 4,0 4,4 0,0</coordinates></LinearRing></outerBoundaryIs>
  <innerBoundaryIs><LinearRing><coordinates>1,1 2,1 2,2 1,1</coordinates></LinearRing></innerBoundaryIs>
</Polygon></Placemark>
<Placemark><name>multipoint</name><MultiGeometry>
  <Point><coordinates>1,2</coordinates></Point><Point><coordinates>3,4</coordinates></Point>
  <Point><coordinates>5,6</coordinates></Point>
</MultiGeometry></Placemark>
<Placemark><name>multiline</name><MultiGeometry>
  <LineString><coordinates>0,0 1,1</coordinates></LineString>
  <LineString><coordinates>2,2 3,3 4,4</coordinates></LineString>
</MultiGeometry></Placemark>
<Placemark><name>multipolygon</name><MultiGeometry>
  <Polygon><outerBoundaryIs><LinearRing><coordinates>0,0 1,0 1,1 0,0</coordinates></LinearRing></outerBoundaryIs></Polygon>
  <Polygon><outerBoundaryIs><LinearRing><coordinates>5,5 6,5 6,6 5,5</coordinates></LinearRing></outerBoundaryIs></Polygon>
</MultiGeometry></Placemark>
<Placemark><name>collection</name><MultiGeometry>
  <Point><coordinates>1,2</coordinates></Point>
  <LineString><coordinates>0,0 1,1</coordinates></LineString>
</MultiGeometry></Placemark>
</Document></kml>"""

# name -> (WKT keyword the KML reader emits, KML geometry tags under the
# Placemark in document order with their coordinate-pair counts, ESRI
# shape type, SHP part count, SHP point count); a GEOMETRYCOLLECTION has
# no shape type and exports as a null shape
_KINDS = {
    "point": ("POINT", [("Point", 1)], 1, None, 1),
    "line": ("LINESTRING", [("LineString", 3)], 3, 1, 3),
    "polygon": ("POLYGON", [("Polygon", None), ("LinearRing", 4),
                            ("LinearRing", 4)], 5, 2, 8),
    "multipoint": ("MULTIPOINT", [("MultiGeometry", None), ("Point", 1),
                                  ("Point", 1), ("Point", 1)], 8, None, 3),
    "multiline": ("MULTILINESTRING", [("MultiGeometry", None),
                                      ("LineString", 2), ("LineString", 3)],
                  3, 2, 5),
    "multipolygon": ("MULTIPOLYGON", [("MultiGeometry", None),
                                      ("Polygon", None), ("LinearRing", 4),
                                      ("Polygon", None), ("LinearRing", 4)],
                     5, 2, 8),
    "collection": ("GEOMETRYCOLLECTION", [("MultiGeometry", None),
                                          ("Point", 1), ("LineString", 2)],
                   0, None, None),
}


def _shp_records(data: bytes) -> list[tuple[int, int | None, int | None]]:
    """(shape type, part count, point count) of each .shp record."""
    import struct

    out, pos = [], 100
    while pos < len(data):
        _, words = struct.unpack(">ii", data[pos : pos + 8])
        body = data[pos + 8 : pos + 8 + 2 * words]
        (shape_type,) = struct.unpack("<i", body[:4])
        if shape_type == 1:
            out.append((1, None, 1))
        elif shape_type == 8:
            out.append((8, None, struct.unpack("<i", body[36:40])[0]))
        elif shape_type in (3, 5):
            out.append((shape_type, *struct.unpack("<ii", body[36:44])))
        else:
            out.append((shape_type, None, None))
        pos += 8 + 2 * words
    return out


def test_every_reader_geometry_kind_exports(spark, tmp_path):
    """Every WKT kind the readers emit (here through the KML reader, whose
    MultiGeometry yields the MULTI* kinds and GEOMETRYCOLLECTION) exports
    as its KML geometry and as its shapefile record, both rendered from the
    one WKT parse."""
    import xml.etree.ElementTree as ET

    from cartodb_importer_spark.readers.kml import read_kml
    from cartodb_importer_spark.sinks.files import export_kmz, export_shp_zip

    src = tmp_path / "kinds.kml"
    src.write_text(_KINDS_KML)
    df, _ = read_kml(spark, str(src))
    wkts = {r["name"]: r["the_geom"] for r in df.collect()}
    assert {n: w.split("(", 1)[0] for n, w in wkts.items()} == {
        n: k[0] for n, k in _KINDS.items()
    }

    ns = "{http://www.opengis.net/kml/2.2}"
    tags = {"MultiGeometry", "Point", "LineString", "Polygon", "LinearRing"}
    kmz = export_kmz(df.select("name", "the_geom"), "kinds", str(tmp_path))
    with zipfile.ZipFile(kmz) as zf:
        root = ET.fromstring(zf.read("doc.kml"))
    for pm in root.iter(f"{ns}Placemark"):
        name = pm.find(f".//{ns}Data[@name='name']/{ns}value").text
        got = []
        for el in pm.iter():
            tag = el.tag.replace(ns, "")
            if tag in tags:
                coords = el.find(f"{ns}coordinates")
                got.append((tag, None if coords is None else len(coords.text.split())))
        assert got == _KINDS[name][1], name

    for name, (_, _, shape_type, parts, points) in _KINDS.items():
        one = spark.createDataFrame(
            [(name, wkts[name])], "name string, the_geom string"
        )
        out = tmp_path / name
        with zipfile.ZipFile(export_shp_zip(one, name, str(out))) as zf:
            records = _shp_records(zf.read(f"{name}.shp"))
        assert records == [(shape_type, parts, points)], name
