"""Byte-deterministic writers for the import formats the benchmark feeds the
engine: CSV text, .zip / .tar.gz containers, XLSX, ESRI shapefile sets
(.shp/.shx/.dbf/.prj), KML, GPX and GeoJSON.

Every writer here is the benchmark's own. None calls the engine (its
exporters in particular), so a change to the engine can never change the
inputs it is measured on. Archive members carry fixed timestamps, so the
same rows always give the same bytes.
"""

from __future__ import annotations

import csv
import gzip
import io
import json
import struct
import tarfile
import zipfile
from xml.sax.saxutils import escape

_ZIP_EPOCH = (1980, 1, 1, 0, 0, 0)

WGS84_PRJ = (
    'GEOGCS["GCS_WGS_1984",DATUM["D_WGS_1984",'
    'SPHEROID["WGS_1984",6378137,298.257223563]],'
    'PRIMEM["Greenwich",0],UNIT["Degree",0.017453292519943295]]'
)


def csv_bytes(header, rows, delimiter=",", encoding="utf-8") -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, delimiter=delimiter, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode(encoding)


def zip_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in members.items():
            info = zipfile.ZipInfo(name, date_time=_ZIP_EPOCH)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data)
    return buf.getvalue()


def tar_gz_bytes(members: dict[str, bytes]) -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members.items():
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mode = 0o644
            tf.addfile(info, io.BytesIO(data))
    return gzip.compress(buf.getvalue(), mtime=0)


# ------------------------------------------------------------------ XLSX

_XLSX_NS = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
_REL_NS = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"


def _col_letters(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def xlsx_bytes(header, rows) -> bytes:
    """One-sheet workbook: strings go to the shared-string table, numbers
    to ``<v>`` cells, None to an absent cell."""
    shared: dict[str, int] = {}
    out = [f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{_XLSX_NS}"><sheetData>']
    for r, row in enumerate([list(header)] + [list(x) for x in rows], start=1):
        cells = []
        for c, v in enumerate(row):
            ref = f"{_col_letters(c)}{r}"
            if v is None:
                continue
            if isinstance(v, str):
                idx = shared.setdefault(v, len(shared))
                cells.append(f'<c r="{ref}" t="s"><v>{idx}</v></c>')
            else:
                cells.append(f'<c r="{ref}"><v>{v!r}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    out.append("</sheetData></worksheet>")
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in shared)
    return zip_bytes({
        "[Content_Types].xml": b'<?xml version="1.0" encoding="UTF-8"?><Types/>',
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{_XLSX_NS}" '
            f'xmlns:r="{_REL_NS}"><sheets><sheet name="Sheet1" sheetId="1" '
            'r:id="rId1"/></sheets></workbook>'
        ).encode(),
        "xl/_rels/workbook.xml.rels": (
            '<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns='
            '"http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Target="worksheets/sheet1.xml" Type='
            f'"{_REL_NS}/worksheet"/></Relationships>'
        ).encode(),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><sst xmlns="{_XLSX_NS}" '
            f'count="{len(shared)}" uniqueCount="{len(shared)}">{sst}</sst>'
        ).encode(),
        "xl/worksheets/sheet1.xml": "".join(out).encode(),
    })


# ------------------------------------------------------------- shapefile


def dbf_bytes(fields, records) -> bytes:
    """dBase III table. ``fields`` is [(name, type, size, decimals)] with
    type 'C' (text) or 'N' (numeric); the header date is fixed."""
    head = struct.pack(
        "<BBBBLHH20x", 3, 100, 1, 1, len(records), 33 + 32 * len(fields),
        1 + sum(f[2] for f in fields),
    )
    descs = b"".join(
        struct.pack("<11sc4xBB14x", n.encode("ascii").ljust(11, b"\0"),
                    t.encode("ascii"), size, deci)
        for n, t, size, deci in fields
    )
    body = bytearray()
    for rec in records:
        body += b" "
        for (_, t, size, deci), v in zip(fields, rec):
            if t == "N":
                text = "" if v is None else (f"{v:.{deci}f}" if deci else str(v))
                body += text.rjust(size).encode("ascii")
            else:
                body += ("" if v is None else str(v))[:size].ljust(size).encode("latin-1")
    return head + descs + b"\r" + bytes(body) + b"\x1a"


def _shp_header(shape_type: int, n_bytes: int, bbox) -> bytes:
    return (
        struct.pack(">i5ii", 9994, 0, 0, 0, 0, 0, n_bytes // 2)
        + struct.pack("<ii4d4d", 1000, shape_type, *bbox, 0.0, 0.0, 0.0, 0.0)
    )


def shapefile_members(stem: str, shape_type: int, geoms, fields, records) -> dict[str, bytes]:
    """.shp/.shx/.dbf/.prj for point (type 1: geom = (x, y)) or polygon
    (type 5: geom = [ring, ...], outer rings clockwise) records; a None
    geometry is written as a null shape."""
    bodies = []
    pts_all = []
    for g in geoms:
        if g is None:
            bodies.append(struct.pack("<i", 0))
        elif shape_type == 1:
            bodies.append(struct.pack("<idd", 1, *g))
            pts_all.append(g)
        else:
            pts = [p for ring in g for p in ring]
            pts_all.extend(pts)
            xs, ys = [p[0] for p in pts], [p[1] for p in pts]
            rec = [struct.pack("<i4dii", 5, min(xs), min(ys), max(xs), max(ys), len(g), len(pts))]
            start = 0
            for ring in g:
                rec.append(struct.pack("<i", start))
                start += len(ring)
            rec.extend(struct.pack("<dd", *p) for p in pts)
            bodies.append(b"".join(rec))
    xs = [p[0] for p in pts_all] or [0.0]
    ys = [p[1] for p in pts_all] or [0.0]
    bbox = (min(xs), min(ys), max(xs), max(ys))
    shp = bytearray()
    shx = bytearray()
    offset = 100
    for i, body in enumerate(bodies, start=1):
        shx += struct.pack(">ii", offset // 2, len(body) // 2)
        shp += struct.pack(">ii", i, len(body) // 2) + body
        offset += 8 + len(body)
    return {
        f"{stem}.shp": _shp_header(shape_type, 100 + len(shp), bbox) + bytes(shp),
        f"{stem}.shx": _shp_header(shape_type, 100 + len(shx), bbox) + bytes(shx),
        f"{stem}.dbf": dbf_bytes(fields, records),
        f"{stem}.prj": WGS84_PRJ.encode(),
    }


# ------------------------------------------------------- XML / JSON geo


def kml_bytes(placemarks) -> bytes:
    """placemarks: [(name, description, {data_name: value}, (lon, lat) | None)]"""
    out = ['<?xml version="1.0" encoding="UTF-8"?><kml xmlns="http://www.opengis.net/kml/2.2"><Document>']
    for name, desc, data, pt in placemarks:
        ext = "".join(
            f'<Data name="{k}"><value>{escape(str(v))}</value></Data>' for k, v in data.items()
        )
        geom = "" if pt is None else f"<Point><coordinates>{pt[0]!r},{pt[1]!r}</coordinates></Point>"
        out.append(
            f"<Placemark><name>{escape(name)}</name><description>{escape(desc)}"
            f"</description><ExtendedData>{ext}</ExtendedData>{geom}</Placemark>"
        )
    out.append("</Document></kml>")
    return "".join(out).encode()


def gpx_bytes(tracks) -> bytes:
    """tracks: [[segment: [(lon, lat, ele, iso_time)]]]"""
    out = ['<?xml version="1.0" encoding="UTF-8"?><gpx version="1.1" creator="perfbench" '
           'xmlns="http://www.topografix.com/GPX/1/1">']
    for segs in tracks:
        out.append("<trk>")
        for seg in segs:
            out.append("<trkseg>")
            out.extend(
                f'<trkpt lat="{lat!r}" lon="{lon!r}"><ele>{ele!r}</ele><time>{t}</time></trkpt>'
                for lon, lat, ele, t in seg
            )
            out.append("</trkseg>")
        out.append("</trk>")
    out.append("</gpx>")
    return "".join(out).encode()


def geojson_bytes(features) -> bytes:
    """features: [(properties, (lon, lat) | None)]"""
    doc = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": props,
                "geometry": None if pt is None else {"type": "Point", "coordinates": list(pt)},
            }
            for props, pt in features
        ],
    }
    return json.dumps(doc, separators=(",", ":")).encode()
