"""GPX reader (O6, importer.rb:145-173): the reference converts GPX to a
3-layer shapefile with ogr2ogr and keeps only ``track_points``; here the XML
is parsed directly into that one layer. DateTime fields stay STRINGS,
matching the reference's ``-fieldTypeToString DateTime`` flag
(importer.rb:152-154).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .frame import to_spark

_NS = "{http://www.topografix.com/GPX/1/1}"
_NS0 = "{http://www.topografix.com/GPX/1/0}"


def _findall(el, tag: str):
    return el.findall(f"{_NS}{tag}") or el.findall(f"{_NS0}{tag}")


def _findtext(el, tag: str):
    v = el.find(f"{_NS}{tag}")
    if v is None:
        v = el.find(f"{_NS0}{tag}")
    return v.text if v is not None else None


def read_gpx(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """The ``track_points`` layer: one row per track point, numbered in
    document order, with its track and segment index."""
    root = ET.parse(path).getroot()
    rows: list[tuple] = []
    for ti, trk in enumerate(_findall(root, "trk")):
        for si, seg in enumerate(_findall(trk, "trkseg")):
            for pt in _findall(seg, "trkpt"):
                lon = float(pt.get("lon"))
                lat = float(pt.get("lat"))
                rows.append(
                    (
                        len(rows),
                        ti,
                        si,
                        _findtext(pt, "ele"),
                        _findtext(pt, "time"),  # string, per reference
                        f"POINT({lon!r} {lat!r})",
                    )
                )
    names = ["ogc_fid", "track_fid", "track_seg_id", "ele", "time", "the_geom"]
    columns = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    df = to_spark(spark, columns, dict.fromkeys(names[:3], pa.int32()))
    return df, {
        "import_type": ".gpx",
        "rows": len(rows),
        "the_geom_geojson": False,  # built as WKT above
    }
