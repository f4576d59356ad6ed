"""KML/KMZ reader (O7, importer.rb:175-190): Placemarks -> rows with
sanitized attribute columns and ``the_geom`` WKT (4326 — KML is always
WGS84 by spec, so no reprojection step exists on this path).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from .. import naming
from .frame import geojson_geom, to_spark

_NS = "{http://www.opengis.net/kml/2.2}"
_NS_OLD = "{http://earth.google.com/kml/2.2}"


def _find(el, tag: str):
    return el.find(f"{_NS}{tag}") if el.find(f"{_NS}{tag}") is not None else el.find(
        f"{_NS_OLD}{tag}"
    )


def _coords_to_pairs(text: str) -> list[tuple[float, float]]:
    pairs = []
    for tok in text.split():
        parts = tok.split(",")
        if len(parts) >= 2:
            pairs.append((float(parts[0]), float(parts[1])))  # drop Z: force 2D
    return pairs


def _geom_wkt(pm) -> str | None:
    mg = _find(pm, "MultiGeometry")
    if mg is not None:
        parts = [w for w in (_geom_wkt_single(g) for g in list(mg)) if w]
        if not parts:
            return None
        if len(parts) == 1:
            return parts[0]
        kinds = {w.split("(", 1)[0] for w in parts}
        if kinds == {"POINT"}:
            body = ", ".join(w[len("POINT("):-1] for w in parts)
            return f"MULTIPOINT({body})"
        if kinds == {"LINESTRING"}:
            body = ", ".join(f"({w[len('LINESTRING('):-1]})" for w in parts)
            return f"MULTILINESTRING({body})"
        if kinds == {"POLYGON"}:
            body = ", ".join(f"({w[len('POLYGON('):-1]})" for w in parts)
            return f"MULTIPOLYGON({body})"
        return f"GEOMETRYCOLLECTION({', '.join(parts)})"
    return _geom_wkt_single(pm)


def _geom_wkt_single(pm) -> str | None:
    """WKT of the first Point/LineString/Polygon child of ``pm`` —
    ``pm`` is a Placemark OR a geometry element itself (MultiGeometry
    member), so a self-match is checked first."""
    tag = pm.tag.split("}", 1)[-1]
    if tag in ("Point", "LineString", "Polygon"):
        el = pm
    else:
        el = None
    pt = el if tag == "Point" else _find(pm, "Point")
    if pt is not None:
        c = _find(pt, "coordinates")
        if c is not None and c.text:
            pairs = _coords_to_pairs(c.text)
            if pairs:
                x, y = pairs[0]
                return f"POINT({x!r} {y!r})"
    ls = el if tag == "LineString" else _find(pm, "LineString")
    if ls is not None:
        c = _find(ls, "coordinates")
        if c is not None and c.text:
            pairs = _coords_to_pairs(c.text)
            body = ", ".join(f"{x!r} {y!r}" for x, y in pairs)
            return f"LINESTRING({body})"
    poly = el if tag == "Polygon" else _find(pm, "Polygon")
    if poly is not None:
        rings = []
        for boundary in list(poly):
            lr = _find(boundary, "LinearRing")
            if lr is None:
                continue
            c = _find(lr, "coordinates")
            if c is not None and c.text:
                pairs = _coords_to_pairs(c.text)
                rings.append(", ".join(f"{x!r} {y!r}" for x, y in pairs))
        if rings:
            body = ", ".join(f"({r})" for r in rings)
            return f"POLYGON({body})"
    return None


def read_kml(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    root = ET.parse(path).getroot()
    placemarks = root.iter(f"{_NS}Placemark")
    pms = list(placemarks) or list(root.iter(f"{_NS_OLD}Placemark"))

    # attribute schema: name/description + ExtendedData SimpleData/Data
    names, descs, geoms, extras_by_pm = [], [], [], []
    extras_seen: dict[str, None] = {}
    for pm in pms:
        name_el = _find(pm, "name")
        desc_el = _find(pm, "description")
        extras: dict[str, str] = {}
        ext = _find(pm, "ExtendedData")
        if ext is not None:
            for ns in (_NS, _NS_OLD):
                for sd in ext.iter(f"{ns}SimpleData"):
                    extras[sd.get("name", "")] = sd.text or ""
                for data in ext.iter(f"{ns}Data"):
                    v = _find(data, "value")
                    extras[data.get("name", "")] = (
                        v.text if v is not None else ""
                    )
        extras_seen.update(dict.fromkeys(extras))
        names.append(name_el.text if name_el is not None else None)
        descs.append(desc_el.text if desc_el is not None else None)
        extras_by_pm.append(extras)
        geoms.append(_geom_wkt(pm))
    values = [names, descs]
    values += [[e.get(k) for e in extras_by_pm] for k in extras_seen]
    values.append(geoms)
    clean = naming.sanitize_columns(
        ["name", "description", *extras_seen, "the_geom"]
    )
    columns = dict(zip(clean, values))
    return to_spark(spark, columns), {
        "import_type": ".kml",
        "rows": len(pms),
        "the_geom_geojson": geojson_geom(columns),
    }
