"""GPX reader (O6, importer.rb:145-173): the reference converts GPX to a
3-layer shapefile with ogr2ogr and keeps only ``track_points``; here the XML
is parsed directly. DateTime fields stay STRINGS, matching the reference's
``-fieldTypeToString DateTime`` flag (importer.rb:152-154).
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


def read_gpx(
    spark: SparkSession, path: str, layer: str = "track_points"
) -> tuple[DataFrame, dict]:
    """Layers: 'track_points' (default — the one the reference keeps),
    'tracks', 'routes', 'waypoints'."""
    root = ET.parse(path).getroot()
    rows: list[tuple] = []
    int_cols = ["ogc_fid"]

    if layer == "track_points":
        fid = 0
        for ti, trk in enumerate(_findall(root, "trk")):
            for si, seg in enumerate(_findall(trk, "trkseg")):
                for pt in _findall(seg, "trkpt"):
                    lon = float(pt.get("lon"))
                    lat = float(pt.get("lat"))
                    rows.append(
                        (
                            fid,
                            ti,
                            si,
                            _findtext(pt, "ele"),
                            _findtext(pt, "time"),  # string, per reference
                            f"POINT({lon!r} {lat!r})",
                        )
                    )
                    fid += 1
        names = ["ogc_fid", "track_fid", "track_seg_id", "ele", "time", "the_geom"]
        int_cols = names[:3]
    elif layer == "waypoints":
        for i, wpt in enumerate(_findall(root, "wpt")):
            lon, lat = float(wpt.get("lon")), float(wpt.get("lat"))
            rows.append(
                (
                    i,
                    _findtext(wpt, "name"),
                    _findtext(wpt, "time"),
                    f"POINT({lon!r} {lat!r})",
                )
            )
        names = ["ogc_fid", "name", "time", "the_geom"]
    elif layer in ("tracks", "routes"):
        tag = "trk" if layer == "tracks" else "rte"
        pt_tag = "trkpt" if layer == "tracks" else "rtept"
        for i, trk in enumerate(_findall(root, tag)):
            pts = []
            if layer == "tracks":
                for seg in _findall(trk, "trkseg"):
                    pts.extend(_findall(seg, pt_tag))
            else:
                pts = _findall(trk, pt_tag)
            coords = ", ".join(
                f"{float(p.get('lon'))!r} {float(p.get('lat'))!r}" for p in pts
            )
            rows.append(
                (i, _findtext(trk, "name"), f"LINESTRING({coords})" if pts else None)
            )
        names = ["ogc_fid", "name", "the_geom"]
    else:
        raise ValueError(f"unknown GPX layer {layer!r}")

    columns = {n: [r[i] for r in rows] for i, n in enumerate(names)}
    df = to_spark(spark, columns, dict.fromkeys(int_cols, pa.int32()))
    return df, {
        "import_type": ".gpx",
        "layer": layer,
        "rows": len(rows),
        "the_geom_geojson": False,  # built as WKT above
    }
