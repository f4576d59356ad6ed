"""File export sinks (O28-O31, exporter.rb:43-161): a table out to zipped
CSV, KMZ (doc.kml entry), or zipped SHP — plus the Spark-native
csv/json/parquet directory sinks.

The zip assembly is driver-side (the reference zips too); the single-file
variants coalesce(1), which is correct for export-to-download semantics and
deliberately NOT the 100 TB path (that's the partitioned directory sinks).
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import tempfile
import zipfile
from xml.sax.saxutils import escape

import pyarrow as pa
from pyspark.sql import DataFrame, Row
from pyspark.sql import types as st

#: Max rows the driver-side export paths (KMZ/SHP zip assembly) will
#: collect. Export-to-download is a bounded workflow by contract; this
#: guard keeps an accidental 100 TB table from OOMing the driver.
EXPORT_ROW_CAP = 1_000_000


def _fetch_capped(df: DataFrame) -> pa.Table:
    """The rows of df as one Arrow table, in partition order, or a
    ValueError past the driver-side export cap. One Spark job both
    enforces the cap and fetches: ``limit(cap + 1)`` stops the scan after
    cap + 1 rows. ``coalesce(1)`` keeps that a single job (a limit over
    several partitions adds a shuffle stage, which runs as a job of its
    own) and keeps the order ``collect()`` gives."""
    cap = EXPORT_ROW_CAP
    table = df.coalesce(1).limit(cap + 1).toArrow()
    if table.num_rows > cap:
        raise ValueError(
            f"export exceeds the driver-side row cap ({cap}); use the "
            "partitioned directory sinks (write_csv_dir/write_parquet_dir) "
            "for large tables"
        )
    return table


def _row_values(dtype: st.DataType):
    """Converter from a ``to_pylist`` value of an Arrow column to the
    value ``collect()`` gives in a Row, for the types where they differ;
    None where they agree."""
    if isinstance(dtype, st.StructType):
        fields = [(f.name, _row_values(f.dataType)) for f in dtype.fields]
        make = Row(*dtype.names)
        return lambda v: None if v is None else make(*(
            conv(v[n]) if conv else v[n] for n, conv in fields
        ))
    if isinstance(dtype, st.ArrayType):
        conv = _row_values(dtype.elementType)
        return conv and (lambda v: None if v is None else [conv(x) for x in v])
    if isinstance(dtype, st.MapType):
        kc, vc = _row_values(dtype.keyType), _row_values(dtype.valueType)
        return lambda v: None if v is None else {
            (kc(k) if kc else k): (vc(x) if vc else x) for k, x in v
        }
    if isinstance(dtype, st.TimestampType):
        return lambda v: None if v is None else v.astimezone().replace(tzinfo=None)
    return None


def _texts(column: pa.ChunkedArray, dtype: st.DataType) -> list[str]:
    """A fetched column rendered as the exporters write a cell: str() of
    the value a Row holds, '' for null."""
    values = column.to_pylist()
    conv = _row_values(dtype)
    if conv:
        values = map(conv, values)
    return ["" if v is None else str(v) for v in values]


def write_csv_dir(df: DataFrame, path: str, header: bool = True) -> None:
    """Partitioned CSV directory — the scalable export."""
    df.write.mode("overwrite").option("header", header).csv(path)


def write_json_dir(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def write_parquet_dir(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _single_csv(df: DataFrame, directory: str) -> str:
    # escape='"' writes RFC4180 doubled-quote escaping — the dialect Ruby
    # CSV and our own reader speak; Spark's default backslash escaping
    # would round-trip wrong through either.
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(directory)
    )
    return glob.glob(os.path.join(directory, "part-*.csv"))[0]


def export_csv_zip(df: DataFrame, name: str, out_dir: str) -> str:
    """O28: zipped single CSV, entry named <name>.csv (exporter.rb:53-73)."""
    os.makedirs(out_dir, exist_ok=True)
    zip_path = os.path.join(out_dir, f"{name}.zip")
    with tempfile.TemporaryDirectory() as tmp:
        part = _single_csv(df, os.path.join(tmp, "csv"))
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.write(part, f"{name}.csv")
    return zip_path


_NUM = r"-?[\d.]+(?:[eE][-+]?\d+)?"
_WKT_TOKEN = re.compile(rf"(\()|(\))|({_NUM})\s+({_NUM})")
_SIMPLE_KIND = re.compile(r"(?:MULTI)?(?:POINT|LINESTRING|POLYGON)")


def _parse_wkt(wkt: str | None):
    """WKT -> (kind, members), or None when it holds no coordinate.

    ``kind`` is the WKT keyword. Each member is one simple geometry,
    ``(base kind, paths)``: a POINT or LINESTRING has one path, a POLYGON
    one per ring. A path is a list of (x, y) coordinate texts, as written.
    A MULTI* value has a member per part, a GEOMETRYCOLLECTION the members
    of each geometry it holds. The KML and SHP exporters both render from
    this one parse."""
    if not wkt:
        return None
    kind = wkt.split("(", 1)[0].strip()
    if kind != "GEOMETRYCOLLECTION" and not _SIMPLE_KIND.fullmatch(kind):
        return None
    # a collection's geometries run from one keyword to the next
    starts = [m.start() for m in _SIMPLE_KIND.finditer(wkt)]
    pieces = [wkt[a:b] for a, b in zip(starts, starts[1:] + [len(wkt)])]
    if kind != "GEOMETRYCOLLECTION":
        pieces = pieces[:1]
    members = [m for piece in pieces for m in _members(piece)]
    return (kind, members) if members else None


def _members(wkt: str) -> list[tuple[str, list]]:
    """The simple geometries of one POINT/LINESTRING/POLYGON or MULTI*
    value, skipping empty ones."""
    kind = _SIMPLE_KIND.match(wkt).group()
    base = kind.removeprefix("MULTI")
    # nest the coordinate pairs by parentheses; a closing one past the
    # value's own belongs to an enclosing collection
    stack: list[list] = [[]]
    for opening, closing, x, y in _WKT_TOKEN.findall(wkt):
        if opening:
            stack.append([])
        elif closing and len(stack) > 1:
            group = stack.pop()
            stack[-1].append(group)
        elif x:
            stack[-1].append((x, y))
    body = stack[0][0] if stack[0] else []
    parts = body if base != kind else [body]
    if base != "POLYGON":
        # one path per part; a MULTIPOINT writes its points bare or each
        # in parentheses
        parts = [[part if isinstance(part, list) else [part]] for part in parts]
    members = ([path for path in part if path] for part in parts)
    return [(base, paths) for paths in members if paths]


def _kml_coords(path: list) -> str:
    return " ".join(f"{x},{y}" for x, y in path)


def _kml_member(base: str, paths: list) -> str:
    if base == "POLYGON":
        rings = "".join(
            ("<outerBoundaryIs>" if i == 0 else "<innerBoundaryIs>")
            + f"<LinearRing><coordinates>{_kml_coords(r)}</coordinates></LinearRing>"
            + ("</outerBoundaryIs>" if i == 0 else "</innerBoundaryIs>")
            for i, r in enumerate(paths)
        )
        return f"<Polygon>{rings}</Polygon>"
    tag = "Point" if base == "POINT" else "LineString"
    return f"<{tag}><coordinates>{_kml_coords(paths[0])}</coordinates></{tag}>"


def _wkt_to_kml(wkt: str | None) -> str:
    g = _parse_wkt(wkt)
    if g is None:
        return ""
    kind, members = g
    body = "".join(_kml_member(*m) for m in members)
    if kind.startswith("MULTI") or kind == "GEOMETRYCOLLECTION":
        return f"<MultiGeometry>{body}</MultiGeometry>"
    return body


def _kml_data(name: str, texts: list[str]) -> list[str]:
    """One column's ``<Data>`` elements, XML-escaped."""
    name = escape(name, {'"': "&quot;"})
    return [
        f'<Data name="{name}"><value>{escape(v)}</value></Data>' for v in texts
    ]


def export_kmz(
    df: DataFrame, name: str, out_dir: str, geom_col: str = "the_geom"
) -> str:
    """O29: KMZ whose single entry is always doc.kml (exporter.rb:82).
    Placemark per row; non-geometry columns become ExtendedData."""
    os.makedirs(out_dir, exist_ok=True)
    table = _fetch_capped(df)  # export-to-download path: bounded by the cap
    attrs = [
        _kml_data(f.name, _texts(table.column(f.name), f.dataType))
        for f in df.schema.fields
        if f.name != geom_col
    ]
    data = map("".join, zip(*attrs)) if attrs else [""] * table.num_rows
    geoms = (
        map(_wkt_to_kml, table.column(geom_col).to_pylist())
        if geom_col in df.columns
        else [""] * table.num_rows
    )
    kml = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
        + "".join(
            f"<Placemark><ExtendedData>{d}</ExtendedData>{g}</Placemark>"
            for d, g in zip(data, geoms)
        )
        + "</Document></kml>"
    )
    kmz_path = os.path.join(out_dir, f"{name}.kmz")
    with zipfile.ZipFile(kmz_path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("doc.kml", kml)
    return kmz_path


#: ESRI shape type of each WKT kind; a GEOMETRYCOLLECTION has none
_SHP_TYPE = {
    "POINT": 1, "MULTIPOINT": 8, "LINESTRING": 3, "MULTILINESTRING": 3,
    "POLYGON": 5, "MULTIPOLYGON": 5,
}


def _shp_shape(wkt: str | None):
    """(shape type, parts) of a WKT value, a part being a list of float
    (x, y) points: a polyline's paths, a polygon's rings (MULTIPOLYGON
    membership is carried by ring winding, so the rings are flattened —
    the inverse of readers/shp.py's assembly), a multipoint's points as
    one part. None when the value has no shape type or no coordinate."""
    g = _parse_wkt(wkt)
    if g is None or g[0] not in _SHP_TYPE:
        return None
    kind, members = g
    parts = [
        [(float(x), float(y)) for x, y in path]
        for _, paths in members
        for path in paths
    ]
    if kind == "MULTIPOINT":
        parts = [[p for part in parts for p in part]]
    return _SHP_TYPE[kind], parts


def _shp_record(shape_type: int, parts: list) -> bytes:
    """One .shp record body (ESRI shapefile spec): point = type+x+y;
    multipoint = type+bbox+count+points; polyline/polygon =
    type+bbox+counts+part index+points."""
    import struct

    points = [p for part in parts for p in part]
    if shape_type == 1:
        return struct.pack("<idd", 1, *points[0])
    xs = [p[0] for p in points]
    ys = [p[1] for p in points]
    out = [struct.pack("<i4d", shape_type, min(xs), min(ys), max(xs), max(ys))]
    if shape_type == 8:
        out.append(struct.pack("<i", len(points)))
    else:
        out.append(struct.pack("<ii", len(parts), len(points)))
        start = 0
        for part in parts:
            out.append(struct.pack("<i", start))
            start += len(part)
    for x, y in points:
        out.append(struct.pack("<dd", x, y))
    return b"".join(out)


def export_shp_zip(
    df: DataFrame, name: str, out_dir: str, geom_col: str = "the_geom"
) -> str:
    """O30/O31: zipped shapefile set (.shp/.shx/.dbf/.prj), each member
    best-effort like the reference (exporter.rb:104-152). Point,
    multipoint, polyline (LINESTRING/MULTILINESTRING) and polygon
    (POLYGON/MULTIPOLYGON, holes as parts) geometries; a shapefile holds
    ONE shape type (spec), so the file's type comes from the first
    non-null geometry and rows of any other type export as null shapes.
    Attributes all exported as C fields."""
    import struct

    from ..readers.dbf import write_dbf

    os.makedirs(out_dir, exist_ok=True)
    table = _fetch_capped(df)
    attr_cols = [c for c in df.columns if c != geom_col]
    shapes = (
        [_shp_shape(w) for w in table.column(geom_col).to_pylist()]
        if geom_col in df.columns
        else [None] * table.num_rows
    )
    file_type = next((g[0] for g in shapes if g), 1)
    shapes = [g if g and g[0] == file_type else None for g in shapes]

    with tempfile.TemporaryDirectory() as tmp:
        base = os.path.join(tmp, name)
        # --- .shp + .shx (null shape type 0 for missing/mismatched types)
        recs = [
            _shp_record(*g) if g else struct.pack("<i", 0) for g in shapes
        ]
        content_len = sum(8 + len(r) for r in recs)
        allpts = [p for g in shapes if g for part in g[1] for p in part]
        xs = [p[0] for p in allpts] or [0.0]
        ys = [p[1] for p in allpts] or [0.0]
        header = struct.pack(
            ">i5ii", 9994, 0, 0, 0, 0, 0, (100 + content_len) // 2
        ) + struct.pack("<ii4d4d", 1000, file_type, min(xs), min(ys),
                        max(xs), max(ys), 0.0, 0.0, 0.0, 0.0)
        with open(base + ".shp", "wb") as f:
            f.write(header)
            for i, rec in enumerate(recs):
                f.write(struct.pack(">ii", i + 1, len(rec) // 2))
                f.write(rec)
        with open(base + ".shx", "wb") as f:
            f.write(
                struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, (100 + 8 * len(recs)) // 2)
                + struct.pack("<ii4d4d", 1000, file_type, min(xs),
                              min(ys), max(xs), max(ys), 0.0, 0.0, 0.0, 0.0)
            )
            offset = 50
            for rec in recs:
                f.write(struct.pack(">ii", offset, len(rec) // 2))
                offset += 4 + len(rec) // 2
        # --- .dbf (all attributes as C(254) strings, reference-style
        # lowest-common-denominator export)
        specs = [("C", 254, 0)] * len(attr_cols)
        records = (
            list(zip(*(
                _texts(table.column(f.name), f.dataType)
                for f in df.schema.fields
                if f.name != geom_col
            )))
            if attr_cols
            else [()] * table.num_rows
        )
        with open(base + ".dbf", "wb") as f:
            write_dbf(f, attr_cols, specs, records)
        # --- .prj (EPSG:4326)
        with open(base + ".prj", "w") as f:
            f.write(
                'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
                'SPHEROID["WGS_1984",6378137,298.257223563]],'
                'PRIMEM["Greenwich",0],UNIT["Degree",0.017453292519943295]]'
            )
        zip_path = os.path.join(out_dir, f"{name}.zip")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for ext in (".shp", ".shx", ".dbf", ".prj", ".sbn"):
                member = base + ext
                if os.path.exists(member):  # best-effort per member
                    zf.write(member, name + ext)
    return zip_path
