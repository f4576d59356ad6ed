"""ESRI Shapefile reader (O14/O15): binary .shp geometry + .dbf attributes
-> DataFrame with a ``the_geom`` WKT column, reprojected to EPSG:4326 and
forced 2D (importer.rb:375-386 semantics).

The reference shells out to shp2pgsql and a Python normalizer probing SRID
(with a network fallback to prj2epsg.org we deliberately drop — SURVEY §7
risk 4); here the .prj is matched against a small embedded WKT->EPSG
table covering the common cases, and functions/proj.py reprojects.

Driver-side parse: shapefiles are capped at 2 GB by their own format, so a
single file never needs executor parallelism; at scale the fleet of files
parallelizes (one task per file via the importer), and the resulting
DataFrame is immediately distributed.
"""

from __future__ import annotations

import os
import struct

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .dbf import read_dbf
from .frame import geojson_geom, to_spark

SHAPE_POINT = 1
SHAPE_POLYLINE = 3
SHAPE_POLYGON = 5
SHAPE_MULTIPOINT = 8
# Z/M variants carry the same XY layout first; we force 2D (ST_Force_2D
# equivalent, importer.rb:380)
_Z_TO_BASE = {11: 1, 13: 3, 15: 5, 18: 8, 21: 1, 23: 3, 25: 5, 28: 8}


def _fmt(x: float) -> str:
    """Render a coordinate the way both Spark and DuckDB cast doubles."""
    return repr(float(x))


def _points_wkt(pts: list[tuple[float, float]]) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in pts)


def _signed_area(ring: list[tuple[float, float]]) -> float:
    """Shoelace signed area: >0 counterclockwise, <0 clockwise.

    The shapefile spec orients outer rings clockwise and holes
    counterclockwise, which is how multi-ring records distinguish a
    MULTIPOLYGON (several outers) from a POLYGON with holes — the reference
    gets this via shp2pgsql (importer.rb:367) and asserts it on the
    `multipoly` fixture (spec/import_spec.rb:408-416)."""
    s = 0.0
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _point_in_ring(pt: tuple[float, float], ring: list[tuple[float, float]]) -> bool:
    """Even-odd ray cast (hole-to-outer assignment only; boundary points
    may land either way, matching shp2pgsql's tolerance)."""
    x, y = pt
    inside = False
    for i in range(len(ring) - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > y) != (y2 > y):
            xin = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
            if x < xin:
                inside = not inside
    return inside


def _polygon_wkt(rings: list[list[tuple[float, float]]]) -> str:
    """Assemble shapefile polygon rings into POLYGON or MULTIPOLYGON WKT.

    Outer rings are clockwise (negative signed area), holes
    counterclockwise. A single outer keeps the record's ring order
    verbatim (outer first then holes, as written by every conformant
    writer). Multiple outers become MULTIPOLYGON with each hole attached
    to the smallest outer containing its first vertex (smallest-area
    containment handles nested island-in-lake cases); a hole inside no
    outer is promoted to its own polygon, GDAL-style."""
    outers = [r for r in rings if _signed_area(r) < 0]
    if len(outers) <= 1:
        body = ", ".join(f"({_points_wkt(r)})" for r in rings)
        return f"POLYGON({body})"
    holes = [r for r in rings if _signed_area(r) >= 0]
    polys: list[list[list[tuple[float, float]]]] = [[o] for o in outers]
    outer_areas = [abs(_signed_area(o)) for o in outers]
    for h in holes:
        best = -1
        best_area = float("inf")
        for i, o in enumerate(outers):
            if outer_areas[i] < best_area and _point_in_ring(h[0], o):
                best = i
                best_area = outer_areas[i]
        if best >= 0:
            polys[best].append(h)
        else:
            polys.append([h])
    parts = ", ".join(
        "(" + ", ".join(f"({_points_wkt(r)})" for r in poly) + ")"
        for poly in polys
    )
    return f"MULTIPOLYGON({parts})"


def _read_shapes(path: str) -> list[str | None]:
    """Parse the .shp into WKT strings (None for null shapes)."""
    shapes: list[str | None] = []
    with open(path, "rb") as f:
        header = f.read(100)
        (file_len_words,) = struct.unpack(">i", header[24:28])
        file_len = file_len_words * 2
        while f.tell() < file_len:
            rec_header = f.read(8)
            if len(rec_header) < 8:
                break
            _, content_len_words = struct.unpack(">ii", rec_header)
            content = f.read(content_len_words * 2)
            (shape_type,) = struct.unpack("<i", content[:4])
            shape_type = _Z_TO_BASE.get(shape_type, shape_type)
            if shape_type == 0:
                shapes.append(None)
            elif shape_type == SHAPE_POINT:
                x, y = struct.unpack("<2d", content[4:20])
                shapes.append(f"POINT({_fmt(x)} {_fmt(y)})")
            elif shape_type == SHAPE_MULTIPOINT:
                (n,) = struct.unpack("<i", content[36:40])
                pts = struct.unpack(f"<{2 * n}d", content[40 : 40 + 16 * n])
                pairs = list(zip(pts[0::2], pts[1::2]))
                shapes.append(f"MULTIPOINT({_points_wkt(pairs)})")
            elif shape_type in (SHAPE_POLYLINE, SHAPE_POLYGON):
                nparts, npoints = struct.unpack("<2i", content[36:44])
                parts = struct.unpack(f"<{nparts}i", content[44 : 44 + 4 * nparts])
                off = 44 + 4 * nparts
                pts = struct.unpack(
                    f"<{2 * npoints}d", content[off : off + 16 * npoints]
                )
                pairs = list(zip(pts[0::2], pts[1::2]))
                rings = []
                bounds = list(parts) + [npoints]
                for i in range(nparts):
                    rings.append(pairs[bounds[i] : bounds[i + 1]])
                if shape_type == SHAPE_POLYLINE:
                    if nparts == 1:
                        shapes.append(f"LINESTRING({_points_wkt(rings[0])})")
                    else:
                        body = ", ".join(f"({_points_wkt(r)})" for r in rings)
                        shapes.append(f"MULTILINESTRING({body})")
                else:
                    shapes.append(_polygon_wkt(rings))
            else:
                shapes.append(None)
    return shapes


def read_prj_epsg(prj_path: str) -> int:
    """SRID from the .prj WKT by an embedded match (no network, unlike the
    reference's prj2epsg.org fallback); a missing or unknown .prj defaults
    to 4326 (the reference's default when shp_normalizer prints nothing
    usable)."""
    if not os.path.exists(prj_path):
        return 4326
    wkt = open(prj_path, encoding="utf-8", errors="replace").read()
    if "WGS_1984_Web_Mercator" in wkt or "3857" in wkt:
        return 3857
    import re

    m = re.search(r"UTM[ _][Zz]one[ _](\d{1,2})\s*,?\s*([NS])", wkt) or re.search(
        r"UTM_Zone_(\d{1,2})([NS])", wkt
    )
    if m and ("1984" in wkt or "WGS 84" in wkt):
        zone, hemi = int(m.group(1)), m.group(2)
        return (32600 if hemi == "N" else 32700) + zone
    return 4326


def _reproject(pairs_wkt: list[str | None], srid: int) -> list[str | None]:
    """Reproject WKT coordinate text to 4326 (O16) with the built-in
    kernels of functions/proj.py (EPSG:3857, the WGS84 UTM zones and the
    other codes it lists). Identity when srid is already 4326 or has no
    kernel."""
    from ..functions import proj

    transform = proj.transform_to_4326(srid)
    if transform is None:
        return pairs_wkt
    import re

    def fix_coords(m: re.Match) -> str:
        x, y = float(m.group(1)), float(m.group(2))
        lon, lat = transform(x, y)
        return f"{_fmt(lon)} {_fmt(lat)}"

    coord_rx = re.compile(r"([-\d.eE+]+) ([-\d.eE+]+)")  # "-" inside the class: 1e-05 exponents
    return [
        coord_rx.sub(fix_coords, w) if w is not None else None
        for w in pairs_wkt
    ]


def read_shp(spark: SparkSession, shp_path: str) -> tuple[DataFrame, dict]:
    """Read .shp + sidecar .dbf/.prj into a DataFrame: sanitized attribute
    columns, serial ``gid`` (shp2pgsql adds one — spec import_spec.rb:256),
    and ``the_geom`` WKT in 4326."""
    from .. import naming

    base = os.path.splitext(shp_path)[0]
    shapes = _read_shapes(shp_path)

    dbf_path = base + ".dbf"
    names: list[str] = []
    rows: list[list] = []
    if os.path.exists(dbf_path):
        with open(dbf_path, "rb") as f:
            it = read_dbf(f)
            names = [str(n) for n in next(it)]
            next(it)  # specs
            rows = [list(r) for r in it]
    srid = read_prj_epsg(base + ".prj")
    shapes = _reproject(shapes, srid)

    from decimal import Decimal

    clean = naming.sanitize_columns(["gid", *names, "the_geom"])
    columns: dict[str, list] = {"gid": list(range(1, len(shapes) + 1))}
    types: dict[str, pa.DataType] = {"gid": pa.int32()}
    for i, c in enumerate(clean[1:-1]):
        # one value per shape; a .dbf with fewer records pads with nulls
        values = [rows[j][i] if j < len(rows) else None for j in range(len(shapes))]
        sample = next((r[i] for r in rows if r[i] is not None), None)
        if isinstance(sample, Decimal):
            t, cast = pa.float64(), float  # DBF N with deci (dbfUtils.py:47)
        elif isinstance(sample, bool) or not isinstance(sample, (int, float)):
            t, cast = pa.string(), str
        elif isinstance(sample, int):
            t, cast = pa.int64(), int
        else:
            t, cast = pa.float64(), float
        columns[c] = [None if v is None else cast(v) for v in values]
        types[c] = t
    columns[clean[-1]] = shapes
    return to_spark(spark, columns, types), {
        "srid": srid,
        "rows": len(shapes),
        "import_type": ".shp",
        "the_geom_geojson": geojson_geom(columns),
    }
