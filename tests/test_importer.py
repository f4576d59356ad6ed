"""End-to-end import pipeline tests, porting the reference's behavioral
contracts (spec/import_spec.rb) to the Spark engine + LocalCatalog."""

import os
import zipfile

import pytest

from cartodb_importer_spark.importer import Exporter, Importer
from cartodb_importer_spark.sinks.catalog import LocalCatalog

WALMART_CSV = """storenum,OpenDate,Latitude,Longitude,conversion
1,"Sun Jul 01 00:00:00 -0400 1962",36.7,-92.4,3
2,"Mon Jul 02 00:00:00 -0400 1962",35.2,-94.5,
3,"Tue Jul 03 00:00:00 -0400 1962",999.0,-91.1,7
"""


@pytest.fixture
def catalog(tmp_path):
    return LocalCatalog(str(tmp_path / "warehouse"))


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_csv_import_with_georef(spark, catalog, tmp_path):
    # mirrors spec/import_spec.rb:363-385 (walmart latlon georef)
    path = _write(tmp_path, "walmart.csv", WALMART_CSV)
    res = Importer(spark, catalog, path).run()
    assert res.name == "walmart"
    assert res.rows_imported == 3
    assert res.import_type == ".csv"
    df = catalog.read(spark, "walmart")
    assert df.columns == [
        "storenum", "opendate", "latitude", "longitude", "conversion", "the_geom",
    ]
    rows = {r["storenum"]: r for r in df.collect()}
    assert rows[1]["the_geom"] == "POINT(-92.4 36.7)"
    # out-of-range latitude (999.0) fails the guard regex -> NULL geometry
    assert rows[3]["the_geom"] is None
    # inference: storenum integer, latitude double, opendate varchar
    types = dict(df.dtypes)
    assert types["storenum"] == "int"
    assert types["latitude"] == "double"
    assert types["opendate"] == "string"
    assert types["conversion"] == "int"  # blanks skipped in lattice


def test_empty_csv_raises_and_rolls_back(spark, catalog, tmp_path):
    # spec/import_spec.rb:23-34
    path = _write(tmp_path, "empty.csv", "f1,f2,f3\n")
    with pytest.raises(ValueError, match="Empty table"):
        Importer(spark, catalog, path).run()
    assert catalog.table_names() == []


def test_name_collision_suffix(spark, catalog, tmp_path):
    # spec/import_spec.rb:54-70
    path = _write(tmp_path, "clubbing.csv", "a,b\n1,x\n")
    assert Importer(spark, catalog, path).run().name == "clubbing"
    assert Importer(spark, catalog, path).run().name == "clubbing_1"
    assert Importer(spark, catalog, path).run().name == "clubbing_2"


def test_failed_import_never_clobbers(spark, catalog, tmp_path):
    # spec/import_spec.rb:36-52
    ok = _write(tmp_path, "data.csv", "a,b\n1,x\n")
    Importer(spark, catalog, ok).run()
    before = catalog.read(spark, "data").collect()
    bad = _write(tmp_path / "sub" if False else tmp_path, "data2.csv", "a,b\n")
    with pytest.raises(ValueError):
        Importer(spark, catalog, bad, suggested_name="data").run()
    assert catalog.read(spark, "data").collect() == before
    assert "importing_" not in "".join(catalog.table_names())


def test_zip_import_selects_supported_entry(spark, catalog, tmp_path):
    # spec/import_spec.rb:106-126 (pino.zip: data.csv + ignorable txt)
    zpath = tmp_path / "pino.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("pino/.hidden.csv", "x\n1\n")
        zf.writestr("__MACOSX/data.csv", "x\n1\n")
        zf.writestr("pino/plantar.txt", "ignore me")
        zf.writestr("pino/data.csv", "name,description\na,b\nc,d\ne,f\ng,h\n")
    res = Importer(spark, catalog, str(zpath)).run()
    assert res.name == "data"  # retargeted to the entry name
    assert res.rows_imported == 4


def test_routing_error_leaves_no_workdir(spark, catalog, tmp_path, monkeypatch):
    """The import owns its workdir: an archive that fails routing (no
    supported entry) raises, and its extracted files do not outlive it."""
    import tempfile

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    zpath = tmp_path / "nothing.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("readme.txt", "no table here")
    with pytest.raises(ValueError, match="no supported entry"):
        Importer(spark, catalog, str(zpath)).run()
    assert os.listdir(scratch) == []
    assert catalog.table_names() == []


def test_geojson_import(spark, catalog, tmp_path):
    # spec/import_spec.rb:236 (simple.json)
    geojson = """{"type":"FeatureCollection","features":[
      {"type":"Feature","properties":{"Name":"a","Pop":12},
       "geometry":{"type":"Point","coordinates":[2.1,41.4]}},
      {"type":"Feature","properties":{"Name":"b","Pop":7},
       "geometry":{"type":"MultiPolygon","coordinates":[[[[2,39],[2.5,39],[2.5,39.5],[2,39]]]]}}
    ]}"""
    path = _write(tmp_path, "simple.json", geojson)
    res = Importer(spark, catalog, path).run()
    assert res.rows_imported == 2
    df = catalog.read(spark, "simple")
    rows = {r["name"]: r for r in df.collect()}
    assert rows["a"]["the_geom"] == "POINT(2.1 41.4)"
    assert rows["b"]["the_geom"] == (
        "MULTIPOLYGON(((2.0 39.0, 2.5 39.0, 2.5 39.5, 2.0 39.0)))"
    )


def test_gpx_import(spark, catalog, tmp_path):
    gpx = """<?xml version="1.0"?>
    <gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
      <trk><name>t</name><trkseg>
        <trkpt lat="41.0" lon="2.0"><ele>12</ele><time>2010-01-01T00:00:00Z</time></trkpt>
        <trkpt lat="41.1" lon="2.1"><ele>13</ele><time>2010-01-01T00:01:00Z</time></trkpt>
      </trkseg></trk>
    </gpx>"""
    path = _write(tmp_path, "route.gpx", gpx)
    res = Importer(spark, catalog, path).run()
    assert res.rows_imported == 2
    df = catalog.read(spark, "route")
    row = df.orderBy("ogc_fid").first()
    assert row["the_geom"] == "POINT(2.0 41.0)"
    assert row["time"] == "2010-01-01T00:00:00Z"  # DateTime stays string


def test_kml_import(spark, catalog, tmp_path):
    # spec/import_spec.rb:207 (rmnp.kml, 1 placemark)
    kml = """<?xml version="1.0" encoding="UTF-8"?>
    <kml xmlns="http://www.opengis.net/kml/2.2"><Document>
      <Placemark><name>rmnp</name>
        <Point><coordinates>-105.6,40.4,0</coordinates></Point>
      </Placemark>
    </Document></kml>"""
    path = _write(tmp_path, "rmnp.kml", kml)
    res = Importer(spark, catalog, path).run()
    assert res.rows_imported == 1
    row = catalog.read(spark, "rmnp").first()
    assert row["name"] == "rmnp"
    assert row["the_geom"] == "POINT(-105.6 40.4)"


def test_shp_roundtrip(spark, catalog, tmp_path):
    """Export a georeferenced table to SHP, re-import the zip — exercising
    the SHP writer AND reader (dbf + shp binary codecs)."""
    src = _write(
        tmp_path, "pts.csv", "id,name,lat,lon\n1,alpha,40.1,-3.7\n2,beta,41.4,2.1\n"
    )
    Importer(spark, catalog, src).run()
    out = Exporter(spark, catalog, "pts", type="shp", out_dir=str(tmp_path)).run()
    assert out.path.endswith("pts.zip")
    res = Importer(spark, catalog, out.path).run()
    assert res.rows_imported == 2
    df = catalog.read(spark, res.name)
    assert "gid" in df.columns and "the_geom" in df.columns
    geoms = {r["name"]: r["the_geom"] for r in df.collect()}
    assert geoms["alpha"] == "POINT(-3.7 40.1)"


def test_csv_export_zip(spark, catalog, tmp_path):
    src = _write(tmp_path, "t.csv", "a,b\n1,x\n2,y\n")
    Importer(spark, catalog, src).run()
    out = Exporter(spark, catalog, "t", type="csv", out_dir=str(tmp_path)).run()
    with zipfile.ZipFile(out.path) as zf:
        assert zf.namelist() == ["t.csv"]
        body = zf.read("t.csv").decode()
    assert body.splitlines()[0] == "a,b"
    assert len(body.splitlines()) == 3


def test_kmz_export_doc_kml(spark, catalog, tmp_path):
    src = _write(tmp_path, "geo.csv", "id,lat,lon\n1,40.0,-3.0\n")
    Importer(spark, catalog, src).run()
    out = Exporter(spark, catalog, "geo", type="kml", out_dir=str(tmp_path)).run()
    with zipfile.ZipFile(out.path) as zf:
        assert zf.namelist() == ["doc.kml"]  # exporter.rb:82
        assert b"<coordinates>-3.0,40.0</coordinates>" in zf.read("doc.kml")


def test_delimiter_sniffing(spark, catalog, tmp_path):
    path = _write(tmp_path, "semi.csv", "a;b;c\n1;2;3\n4;5;6\n")
    res = Importer(spark, catalog, path).run()
    df = catalog.read(spark, "semi")
    assert df.columns == ["a", "b", "c"]
    assert res.rows_imported == 2


def test_kmz_import(spark, catalog, tmp_path):
    kml = """<?xml version="1.0" encoding="UTF-8"?>
    <kml xmlns="http://www.opengis.net/kml/2.2"><Document>
      <Placemark><name>a</name><Point><coordinates>1.5,2.5,0</coordinates></Point></Placemark>
      <Placemark><name>b</name><Point><coordinates>3.5,4.5,0</coordinates></Point></Placemark>
    </Document></kml>"""
    kmz = tmp_path / "sites.kmz"
    with zipfile.ZipFile(kmz, "w") as zf:
        zf.writestr("doc.kml", kml)
    res = Importer(spark, catalog, str(kmz)).run()
    assert res.rows_imported == 2
    # name retargeted to the archive entry (doc), per O4 semantics
    assert res.name == "doc"
    geoms = {r["name"]: r["the_geom"] for r in catalog.read(spark, "doc").collect()}
    assert geoms == {"a": "POINT(1.5 2.5)", "b": "POINT(3.5 4.5)"}


def test_gpx_layers(spark, tmp_path):
    from cartodb_importer_spark.readers.gpx import read_gpx

    gpx = """<?xml version="1.0"?>
    <gpx xmlns="http://www.topografix.com/GPX/1/1" version="1.1">
      <wpt lat="40.0" lon="-3.0"><name>w1</name></wpt>
      <trk><name>t1</name><trkseg>
        <trkpt lat="41.0" lon="2.0"/><trkpt lat="41.1" lon="2.1"/>
      </trkseg></trk>
      <rte><name>r1</name>
        <rtept lat="50.0" lon="8.0"/><rtept lat="50.1" lon="8.1"/>
      </rte>
    </gpx>"""
    p = tmp_path / "multi.gpx"
    p.write_text(gpx)
    tracks, _ = read_gpx(spark, str(p), layer="tracks")
    assert tracks.first()["the_geom"] == "LINESTRING(2.0 41.0, 2.1 41.1)"
    routes, _ = read_gpx(spark, str(p), layer="routes")
    assert routes.first()["the_geom"] == "LINESTRING(8.0 50.0, 8.1 50.1)"
    wpts, _ = read_gpx(spark, str(p), layer="waypoints")
    assert wpts.first()["the_geom"] == "POINT(-3.0 40.0)"


def test_url_import_file_scheme(spark, catalog, tmp_path):
    # O1: URL sources stage through the workdir (file:// exercises the
    # download path without network)
    src = _write(tmp_path, "remote.csv", "a,b\n1,x\n2,y\n")
    res = Importer(spark, catalog, f"file://{src}").run()
    assert res.name == "remote"
    assert res.rows_imported == 2


def test_export_row_cap_guard(spark, monkeypatch, tmp_path):
    """Driver-side export paths refuse tables above the row cap instead of
    collecting them onto the driver (VERDICT r01 guard)."""
    import pytest as _pytest

    from cartodb_importer_spark.sinks import files as fsinks

    df = spark.range(100).selectExpr(
        "id", "concat('POINT(', id, ' ', id, ')') AS the_geom"
    )
    monkeypatch.setattr(fsinks, "EXPORT_ROW_CAP", 10)
    with _pytest.raises(ValueError, match="row cap"):
        fsinks.export_kmz(df, "big", str(tmp_path))
    with _pytest.raises(ValueError, match="row cap"):
        fsinks.export_shp_zip(df, "big", str(tmp_path))
    # under the cap still round-trips
    monkeypatch.setattr(fsinks, "EXPORT_ROW_CAP", 1000)
    out = fsinks.export_kmz(df.limit(3), "small", str(tmp_path))
    assert out.endswith("small.kmz")


def test_shp_export_polygon_roundtrip(spark, tmp_path):
    """Polygon (with hole) export -> re-read via the repo's own SHP codec:
    rings survive as POLYGON parts (shape type 5)."""
    from cartodb_importer_spark.readers.shp import read_shp
    from cartodb_importer_spark.sinks.files import export_shp_zip

    wkt = (
        "POLYGON((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0), "
        "(1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 2.0, 1.0 1.0))"
    )
    df = spark.createDataFrame(
        [(1, "donut", wkt)], "id int, name string, the_geom string"
    )
    out = export_shp_zip(df, "polys", str(tmp_path))
    with zipfile.ZipFile(out) as zf:
        zf.extractall(tmp_path / "x")
    back, meta = read_shp(spark, str(tmp_path / "x" / "polys.shp"))
    got = back.first()["the_geom"]
    assert got.startswith("POLYGON((")
    assert "1.0 1.0" in got or "1 1" in got  # hole ring survived


def test_shp_export_polyline_roundtrip(spark, tmp_path):
    from cartodb_importer_spark.readers.shp import read_shp
    from cartodb_importer_spark.sinks.files import export_shp_zip

    df = spark.createDataFrame(
        [
            (1, "a", "LINESTRING(0.0 0.0, 1.0 1.0, 2.0 0.5)"),
            (2, "b", "MULTILINESTRING((0.0 0.0, 1.0 0.0), (5.0 5.0, 6.0 6.0))"),
            (3, "c", None),  # null shape
        ],
        "id int, name string, the_geom string",
    )
    out = export_shp_zip(df, "lines", str(tmp_path))
    with zipfile.ZipFile(out) as zf:
        zf.extractall(tmp_path / "y")
    back, meta = read_shp(spark, str(tmp_path / "y" / "lines.shp"))
    rows = [r["the_geom"] for r in back.orderBy("gid").collect()]
    assert rows[0].startswith("LINESTRING(")
    assert "2.0 0.5" in rows[0] or "2 0.5" in rows[0]
    assert rows[1].startswith("MULTILINESTRING(")
    assert rows[2] is None


def test_import_fleet_parallel(spark, catalog, tmp_path):
    """Fleet import: N files land in parallel, same-stem files get _n
    suffixes instead of racing, and one bad file fails alone."""
    from cartodb_importer_spark.importer import import_fleet

    d1, d2 = tmp_path / "a", tmp_path / "b"
    d1.mkdir(), d2.mkdir()
    (d1 / "cities.csv").write_text("id,name\n1,x\n2,y\n")
    (d2 / "cities.csv").write_text("id,name\n3,z\n")
    (tmp_path / "empty.csv").write_text("id,name\n")  # O9 guard trips
    items = import_fleet(
        spark,
        catalog,
        [str(d1 / "cities.csv"), str(d2 / "cities.csv"), str(tmp_path / "empty.csv")],
        max_parallel=3,
    )
    ok = [i for i in items if i.result]
    bad = [i for i in items if i.error]
    assert len(ok) == 2 and len(bad) == 1
    names = sorted(i.result.name for i in ok)
    assert names == ["cities", "cities_1"]
    assert sum(i.result.rows_imported for i in ok) == 3
    assert "empty.csv" in bad[0].path and "Empty table" in bad[0].error


def test_route_jsonl_distributed(spark, tmp_path):
    """.jsonl routes to the distributed line-JSON reader with sanitized
    columns (vs the driver-parsed .json FeatureCollection path)."""
    from cartodb_importer_spark.readers.router import route

    p = tmp_path / "t.jsonl"
    p.write_text(
        '{"User Name": "a", "N": 1}\n'
        '{"User Name": "b", "N": 2}\n'
        '{"User Name": "c", "N": 3}\n'
    )
    df, meta = route(spark, str(p), str(tmp_path))
    assert meta["import_type"] == ".jsonl"
    assert sorted(df.columns) == ["n", "user_name"]
    assert df.count() == 3


def test_route_orc(spark, tmp_path):
    from cartodb_importer_spark.readers.router import route

    src = spark.createDataFrame(
        [(1, "x"), (2, "y")], "Id INT, `Col Name` STRING"
    )
    p = str(tmp_path / "t.orc")
    src.write.orc(p)
    df, meta = route(spark, p, str(tmp_path))
    assert meta["import_type"] == ".orc"
    assert sorted(df.columns) == ["col_name", "id"]
    assert df.count() == 2


def test_route_tgz_and_gz_and_bom_csv(spark, tmp_path):
    from cartodb_importer_spark.readers.router import route

    """r03 review fixes: tarballs/gzip route end-to-end, and a UTF-8-BOM
    CSV imports without the Python-only 'utf-8-sig' codec name reaching
    Spark (java.nio has no such charset) or the BOM polluting names."""
    import gzip
    import tarfile

    csv = tmp_path / "people.csv"
    csv.write_text("Name,Age\nAda,36\nLin,29\n", encoding="utf-8-sig")
    tgz = tmp_path / "people.tgz"
    with tarfile.open(tgz, "w:gz") as tf:
        tf.add(csv, arcname="people.csv")
    df, meta = route(spark, str(tgz), str(tmp_path))
    assert df.count() == 2 and df.columns == ["name", "age"]
    assert meta["suggested_name"] == "people"

    gz = tmp_path / "solo.csv.gz"
    with open(csv, "rb") as s, gzip.open(gz, "wb") as d:
        d.write(s.read())
    df2, _ = route(spark, str(gz), str(tmp_path))
    assert df2.count() == 2 and df2.columns == ["name", "age"]


def test_route_gnu_dot_slash_tar(spark, tmp_path):
    """ADVICE r3: GNU `tar -cf x .` names members './file.csv'; the
    dot-skip must apply per path component, not to the raw name."""
    import tarfile

    from cartodb_importer_spark.readers.router import route

    csv = tmp_path / "members.csv"
    csv.write_text("a,b\n1,2\n3,4\n")
    tar = tmp_path / "dotslash.tar"
    with tarfile.open(tar, "w") as tf:
        tf.add(csv, arcname="./members.csv")
        tf.add(csv, arcname="./.hidden.csv")  # still skipped: dot basename
    df, meta = route(spark, str(tar), str(tmp_path))
    assert df.count() == 2
    assert meta["suggested_name"] == "members"


def test_route_nested_gz_inside_tar(spark, tmp_path):
    """ADVICE r3: a compressed entry inside an archive (inner.csv.gz in a
    tar) must keep unwrapping instead of dropping to the unsupported
    branch."""
    import gzip
    import tarfile

    from cartodb_importer_spark.readers.router import route

    gz = tmp_path / "inner.csv.gz"
    with gzip.open(gz, "wb") as d:
        d.write(b"x,y\n7,8\n")
    tar = tmp_path / "nested.tar"
    with tarfile.open(tar, "w") as tf:
        tf.add(gz, arcname="inner.csv.gz")
    df, meta = route(spark, str(tar), str(tmp_path))
    assert df.count() == 1 and df.columns == ["x", "y"]
    assert meta["suggested_name"] == "inner"


def test_kml_multigeometry_and_legacy_namespace(spark, tmp_path):
    """r03 review fixes: MultiGeometry placemarks no longer import with
    null geometry, and legacy-namespace KML keeps its ExtendedData."""
    from cartodb_importer_spark.readers.kml import read_kml

    new_ns = (
        '<?xml version="1.0"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        "<Placemark><name>multi</name><MultiGeometry>"
        "<Polygon><outerBoundaryIs><LinearRing><coordinates>"
        "0,0 1,0 1,1 0,0</coordinates></LinearRing></outerBoundaryIs>"
        "</Polygon><Polygon><outerBoundaryIs><LinearRing><coordinates>"
        "5,5 6,5 6,6 5,5</coordinates></LinearRing></outerBoundaryIs>"
        "</Polygon></MultiGeometry></Placemark></Document></kml>"
    )
    p = tmp_path / "mg.kml"
    p.write_text(new_ns)
    df, _ = read_kml(spark, str(p))
    geom = df.collect()[0]["the_geom"]
    assert geom.startswith("MULTIPOLYGON((") and "5.0 5.0" in geom

    legacy = (
        '<?xml version="1.0"?>'
        '<kml xmlns="http://earth.google.com/kml/2.2"><Document>'
        "<Placemark><name>l</name><ExtendedData><SchemaData>"
        '<SimpleData name="pop">42</SimpleData></SchemaData>'
        "</ExtendedData><Point><coordinates>7,8</coordinates></Point>"
        "</Placemark></Document></kml>"
    )
    p2 = tmp_path / "legacy.kml"
    p2.write_text(legacy)
    df2, _ = read_kml(spark, str(p2))
    row = df2.collect()[0]
    assert row["pop"] == "42" and row["the_geom"] == "POINT(7.0 8.0)"


def test_csv_stray_quote_does_not_flip_multiline(spark, tmp_path):
    """Review fix: one malformed quote must NOT switch the whole file to
    multiLine (which would swallow every later line into one field) —
    quotes must re-balance before odd lines count as multiline records."""
    from cartodb_importer_spark.readers.csv import read_csv

    lines = ["id,note", '1,ok', '2,"unterminated pipe,9']
    lines += [f"{i},fine" for i in range(3, 103)]
    p = tmp_path / "stray.csv"
    p.write_text("\n".join(lines) + "\n")
    df, meta = read_csv(spark, str(p))
    assert meta["multiline"] is False
    # only the malformed row degrades; the 100 clean rows all survive
    assert df.filter("note = 'fine'").count() == 100


def test_csv_multiline_quotes_balanced(spark, tmp_path):
    """Genuine multiline file (balanced quotes) still parses as records."""
    from cartodb_importer_spark.readers.csv import read_csv

    p = tmp_path / "ml.csv"
    p.write_text('id,note\n1,"line one\nline two"\n2,plain\n')
    df, meta = read_csv(spark, str(p))
    assert meta["multiline"] is True
    assert df.count() == 2


def test_csv_nan_inf_header_names_stay_header(spark, tmp_path):
    """Review fix: float('nan')/float('inf') parse, but 'NaN'/'Inf' column
    names are header words, not numeric cells."""
    from cartodb_importer_spark.readers.csv import read_csv

    p = tmp_path / "nan.csv"
    p.write_text("region,NaN,Inf\nmadrid,5,7\n")
    df, meta = read_csv(spark, str(p))
    assert meta["has_header"] is True
    assert df.count() == 1 and df.columns == ["region", "nan", "inf"]


def test_csv_headerless_bom_stripped(spark, tmp_path):
    """Review fix: a BOM-prefixed HEADERLESS file (numeric first field)
    must not leak the BOM into the first data cell."""
    from cartodb_importer_spark.readers.csv import read_csv

    p = tmp_path / "bom_headerless.csv"
    p.write_text("1,40.1,-3.7\n2,41.4,2.1\n", encoding="utf-8-sig")
    df, meta = read_csv(spark, str(p))
    assert meta["has_header"] is False
    rows = sorted(r["field_1"] for r in df.collect())
    assert rows == [1, 2]  # inferred integer — BOM would force varchar


def test_csv_multiline_sniff_cap_stops_outside_quoted_field(spark, tmp_path):
    """ADVICE r4: the sniff's 200k-line cap must not end mid-quoted-field —
    that would leave the scanned window's quote total odd and silently
    disable multiLine for a genuinely multiline file. The scan may only
    stop at an even running total (outside any quoted field)."""
    from cartodb_importer_spark.readers.csv import read_csv

    lines = ["id,note"] + [f"{i},fine" for i in range(199_999)]
    # a real multiline record whose opening quote sits right at the cap
    # and whose closing quote lands well after it
    lines.append('199999,"spans')
    lines += ["the cap"] * 50
    lines.append('and closes here"')
    lines.append("200000,tail")
    p = tmp_path / "big_multiline.csv"
    p.write_text("\n".join(lines) + "\n")
    df, meta = read_csv(spark, str(p))
    assert meta["multiline"] is True
    assert df.filter("id = '199999'").count() == 1
    assert df.filter("id = '200000'").count() == 1


REF_DATA = "/root/reference/spec/support/data"


@pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference fixture dir not present"
)
def test_reserved_xmin_column_escaped_on_import(spark, catalog):
    """spec/import_spec.rb:89-104 is PENDING in the reference ("should
    escape reserved column names", expecting xmin -> _xmin). This engine
    implements the behavior the spec asks for (naming.py reserved system
    columns), so pin it as a passing contract rather than a pending one."""
    res = Importer(
        spark, catalog, os.path.join(REF_DATA, "reserved_columns.csv")
    ).run()
    assert res.rows_imported == 7
    assert res.import_type == ".csv"
    cols = catalog.read(spark, res.name).columns
    # the spec's expected_columns, including the escaped reserved name
    assert {"url", "login", "country", "followers_count", "_xmin"} <= set(cols)


@pytest.mark.skipif(
    not os.path.isdir(REF_DATA), reason="reference fixture dir not present"
)
def test_non_utf8_cr_only_estaciones_imports(spark, catalog):
    """spec/import_spec.rb:168-176 is PENDING in the reference ("not
    supported ~v0.2.1": estaciones.csv is non-UTF8 with classic-Mac
    lone-CR line endings). This engine stages a UTF-8/newline-normalized
    copy (readers/csv.py), so the file imports: 30 CR-separated data
    rows (the spec's 29 was authored for a test that never ran — the
    file is headerless by the OGR first-line-numeric rule, same as the
    estaciones2.csv golden), field_1..field_4 synthesized names, and
    text decoded without raising."""
    res = Importer(
        spark, catalog, os.path.join(REF_DATA, "estaciones.csv")
    ).run()
    assert res.rows_imported == 30
    assert res.import_type == ".csv"
    df = catalog.read(spark, res.name)
    assert df.columns[:4] == ["field_1", "field_2", "field_3", "field_4"]
    first = df.orderBy("field_1").first()
    assert first["field_1"] == 28079003
    assert first["field_2"] == "Plaza del Carmen"


def test_cr_only_detection_counts_not_presence(spark, tmp_path):
    """The classic-Mac staging trigger must count lone-CR vs bare-LF
    terminators, not test byte presence: a CR-only file whose quoted
    field embeds a single 0x0A still stages (presence test saw the LF
    and parsed the whole file as one record), and an ordinary LF file
    with a stray CR inside quotes must NOT stage."""
    from cartodb_importer_spark.readers.csv import read_csv

    cr = tmp_path / "mac.csv"
    body = "id,name\r" + "".join(
        f'{i},"n{i}\n"\r' if i == 2 else f"{i},n{i}\r" for i in range(1, 9)
    )
    cr.write_bytes(body.encode())
    df, _ = read_csv(spark, str(cr), infer=False)
    assert df.count() == 8
    assert set(df.columns) == {"id", "name"}

    lf = tmp_path / "unix.csv"
    lf.write_bytes(b'id,name\n1,"a\rb"\n2,c\n')
    df2, _ = read_csv(spark, str(lf), infer=False)
    assert df2.count() == 2
    # not staged: staging would have normalized the in-field CR to LF
    cell = {r["id"]: r["name"] for r in df2.collect()}["1"]
    assert cell == "a\rb"


def test_publish_collision_retries_with_fresh_suffix(spark, catalog, tmp_path):
    """r09 fleet race: a concurrent import can win a table name AFTER this
    import derived it (archive explosion retargets names mid-run, past
    import_fleet's pre-reservation). The loser must land under the
    reference's _n suffix instead of failing."""
    src = _write(tmp_path, "race.csv", "a,b\n1,2\n3,4\n")
    imp = Importer(spark, catalog, src)
    assert imp.suggested_name == "race"
    # another import wins the name between derivation and publish
    catalog.publish(spark.createDataFrame([(9,)], "x int"), "race")
    writes = []
    orig_write = catalog.write

    def counting_write(df, name):
        writes.append(name)
        orig_write(df, name)

    catalog.write = counting_write
    try:
        res = imp.run()
    finally:
        catalog.write = orig_write
    assert res.name == "race_1"
    assert res.rows_imported == 2
    # the loser renames its staged table again instead of re-writing it
    assert len(writes) == 1
    # the winner's table is untouched
    assert catalog.read(spark, "race").count() == 1


def test_staging_names_unique_within_one_second(catalog):
    """r09 fleet race: importing_<unix-ts>_<name> collides when two fleet
    threads publish the same table name in one second — the slug must make
    consecutive staging names distinct while keeping the reference's
    importing_ prefix (importer.rb:355)."""
    a = catalog.staging_name("t")
    b = catalog.staging_name("t")
    assert a != b
    assert a.startswith("importing_") and b.startswith("importing_")
    assert a.endswith("_t") and b.endswith("_t")


# --------------------------------------------------------------- properties
# r09's mixed-format fleet rehearsal found two real races (a publish
# collision mid-run, a staging-name collision within one second); the
# example tests above lock those instances. This property test locks the
# CLASS (VERDICT r09 item 6): for ANY multiset of colliding suggested
# names — including names that collide with the _n suffix another loser
# will pick — a concurrent fleet must land every file under a distinct
# name with its own rows intact and no table clobbered.

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@given(
    names=hst.lists(
        hst.sampled_from(["t", "t", "t_1", "t_2", "u"]),
        min_size=2,
        max_size=5,
    ),
    prepublish=hst.booleans(),
)
@settings(
    max_examples=5,  # each example runs a real concurrent fleet
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_concurrent_publish_any_name_collisions(spark, names, prepublish):
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    root = tempfile.mkdtemp(prefix="prop_fleet_")
    try:
        cat = LocalCatalog(f"{root}/warehouse")
        if prepublish:  # a table already owning the hottest name
            cat.publish(spark.createDataFrame([(99,)], "marker int"), "t")
        imps = []
        for i, name in enumerate(names):
            p = f"{root}/file_{i}.csv"
            with open(p, "w") as f:
                f.write(f"marker,payload\n{i},{i * 10}\n")
            imp = Importer(spark, cat, p)
            imp.suggested_name = name  # bypass fleet pre-reservation:
            # this is the post-reservation race window under test
            imps.append(imp)
        with ThreadPoolExecutor(max_workers=len(imps)) as ex:
            results = list(ex.map(lambda im: im.run(), imps))
        landed = [r.name for r in results]
        assert len(set(landed)) == len(landed)  # no table clobbered
        for i, r in enumerate(results):
            assert r.rows_imported == 1
            rows = cat.read(spark, r.name).collect()
            assert len(rows) == 1 and int(rows[0]["marker"]) == i
        if prepublish:  # the incumbent survived every race
            assert "t" in cat.table_names()
            pre = cat.read(spark, "t").collect()
            assert len(pre) == 1 and pre[0]["marker"] == 99
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_publish_retry_surfaces_non_collision_errors(spark, catalog, tmp_path):
    """ADVICE r09: the retry loop must NOT re-publish on failures that
    merely coincide with the target name existing (e.g. disk full during
    staging) — only explicit collision signals retry. A catalog whose
    write always fails with a generic OSError must surface it on the
    FIRST attempt even though the suggested name exists."""
    src = _write(tmp_path, "boom.csv", "a,b\n1,2\n")
    # the name exists (would have satisfied the old exists() retry test)
    catalog.publish(spark.createDataFrame([(1,)], "x int"), "boom_1")

    calls = {"n": 0}
    orig_write = catalog.write

    def failing_write(df, name):
        calls["n"] += 1
        raise OSError(28, "No space left on device")  # ENOSPC, not EEXIST

    catalog.write = failing_write
    try:
        imp = Importer(spark, catalog, src)
        with pytest.raises(OSError, match="No space left"):
            imp.run()
        assert calls["n"] == 1, "non-collision error must not retry"
    finally:
        catalog.write = orig_write


def test_publish_count_rides_the_write_observation(spark, catalog):
    """r12 optimization: the landed count comes from an Observation on
    the staging write itself (no post-publish count() re-scan). Exact
    for multi-partition frames, and reject_empty enforces the O9 guard
    before the rename, so an empty input never publishes."""
    df = spark.range(0, 1000, 1, 7).selectExpr("id", "id * 2 AS v")
    assert catalog.publish(df, "obs_count") == 1000
    # the published table really holds what the observation counted
    assert catalog.count(spark, "obs_count") == 1000

    empty = df.filter("id < 0")
    with pytest.raises(ValueError, match="Empty table"):
        catalog.publish(empty, "obs_empty", reject_empty=True)
    assert "obs_empty" not in catalog.table_names()
    # staging leftovers are rolled back too
    assert not [n for n in catalog.table_names() if "obs_empty" in n]
    # without the guard an empty publish still lands (non-import callers)
    assert catalog.publish(empty, "obs_empty_ok") == 0


def test_publish_version_count_rides_the_write(spark, tmp_path):
    from cartodb_importer_spark.sinks.catalog import VersionedLocalCatalog

    cat = VersionedLocalCatalog(str(tmp_path / "vwh"))
    df = spark.range(0, 50, 1, 3).selectExpr("id")
    assert cat.publish_version(df, "t") == 50
    assert cat.publish_version(df.filter("id < 10"), "t") == 10
    assert cat.count(spark, "t") == 10
