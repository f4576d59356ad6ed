"""Spreadsheet reader (O5, importer.rb:124-140): XLS(X)/ODS -> table.

The reference converts to CSV via the roo gem, then runs the CSV path. Here
the first sheet is extracted on the driver by the stdlib readers below
(XLSX and ODS are zips of XML; legacy XLS goes through readers/xls_biff.py)
into string columns of a ``pyarrow.Table``, and the SAME §2.2 lattice and
casts the CSV path runs as a Spark aggregate run on that table instead
(``infer_column_types`` accepts either), so type behavior matches the CSV
path exactly and the publish write is the import's only Spark job.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .. import naming
from ..infer import apply_inferred_types, infer_column_types
from .frame import geojson_geom, to_spark


def _load_rows(path: str) -> tuple[list[str], list[list[str | None]]]:
    ext = path.rsplit(".", 1)[-1].lower()
    if ext in ("xlsx", "xlsm"):
        rows = _read_xlsx_stdlib(path)
    elif ext == "ods":
        rows = _read_ods_stdlib(path)
    else:  # legacy .xls: own BIFF8 reader (no xlrd in the dependency set)
        from .xls_biff import read_xls_rows

        rows = read_xls_rows(path)
    if not rows:
        return [], []
    width = max(len(r) for r in rows)
    rows = [r + [""] * (width - len(r)) for r in rows]
    return rows[0], rows[1:]


def _first_sheet_member(zf) -> str:
    """Archive member for the workbook's FIRST sheet in workbook.xml order
    (the order roo uses — importer.rb:124-140), not zip-entry
    order: resolve sheet[0]'s r:id through xl/_rels/workbook.xml.rels to
    its worksheet target. Falls back to lexicographic zip order only when
    the workbook/rels parts are absent or malformed."""
    import posixpath
    import xml.etree.ElementTree as ET

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
    PKG = "{http://schemas.openxmlformats.org/package/2006/relationships}"
    try:
        wb = ET.fromstring(zf.read("xl/workbook.xml"))
        first = wb.find(f"{NS}sheets/{NS}sheet")
        rid = first.get(f"{RNS}id")
        rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
        target = next(
            r.get("Target")
            for r in rels.findall(f"{PKG}Relationship")
            if r.get("Id") == rid
        )
        member = posixpath.normpath(
            target if target.startswith("/") else "xl/" + target
        ).lstrip("/")
        if member in zf.namelist():
            return member
    except Exception:
        pass
    return sorted(
        n for n in zf.namelist()
        if n.startswith("xl/worksheets/sheet") and n.endswith(".xml")
    )[0]


def _read_xlsx_stdlib(path: str) -> list[list[str]]:
    """XLSX reader: an .xlsx is a zip of XML — parse the first sheet +
    sharedStrings with the stdlib. Covers inline/shared strings and
    numeric cells (the reference converts spreadsheets to CSV text anyway,
    so everything downstream is string-typed before inference)."""
    import xml.etree.ElementTree as ET
    import zipfile

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    with zipfile.ZipFile(path) as zf:
        shared: list[str] = []
        if "xl/sharedStrings.xml" in zf.namelist():
            root = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in root.findall(f"{NS}si"):
                shared.append("".join(t.text or "" for t in si.iter(f"{NS}t")))
        root = ET.fromstring(zf.read(_first_sheet_member(zf)))
        rows: list[list[str]] = []
        for row_el in root.iter(f"{NS}row"):
            row: list[str] = []
            for c in row_el.findall(f"{NS}c"):
                ref = c.get("r", "")
                col_idx = _col_index("".join(ch for ch in ref if ch.isalpha()))
                while len(row) < col_idx:
                    row.append("")
                ctype = c.get("t", "n")
                v = c.find(f"{NS}v")
                is_el = c.find(f"{NS}is")
                if ctype == "s" and v is not None:
                    row.append(shared[int(v.text)])
                elif ctype == "inlineStr" and is_el is not None:
                    row.append(
                        "".join(t.text or "" for t in is_el.iter(f"{NS}t"))
                    )
                else:
                    row.append(v.text if v is not None and v.text else "")
            rows.append(row)
        return rows


def _col_index(letters: str) -> int:
    """'A' -> 0, 'B' -> 1, ..., 'AA' -> 26."""
    idx = 0
    for ch in letters:
        idx = idx * 26 + (ord(ch.upper()) - ord("A") + 1)
    return idx - 1


def _read_ods_stdlib(path: str) -> list[list[str]]:
    """Minimal ODS reader: content.xml table rows/cells, honoring
    number-columns-repeated for cell runs."""
    import xml.etree.ElementTree as ET
    import zipfile

    T = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
    TEXT = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
    with zipfile.ZipFile(path) as zf:
        root = ET.fromstring(zf.read("content.xml"))
    table = next(iter(root.iter(f"{T}table")), None)
    rows: list[list[str]] = []
    if table is None:
        return rows
    for row_el in table.iter(f"{T}table-row"):
        row: list[str] = []
        for cell in row_el.findall(f"{T}table-cell"):
            repeat = int(cell.get(f"{T}number-columns-repeated", "1"))
            text = "".join(
                "".join(p.itertext()) for p in cell.findall(f"{TEXT}p")
            )
            # expand empty runs too (collapsing them shifts later cells
            # left, corrupting sparse sheets); cap so the trailing
            # repeat-to-sheet-width padding stays sane, and trim trailing
            # empties below
            row.extend([text] * min(repeat, 1024))
        while row and row[-1] == "":
            row.pop()
        rows.append(row)
    # drop fully-empty trailing rows
    while rows and all(c == "" for c in rows[-1]):
        rows.pop()
    return rows


def read_excel(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    header, data = _load_rows(path)
    names = naming.sanitize_columns([h or "" for h in header])
    table = pa.table({
        n: pa.array([None if row[i] == "" else row[i] for row in data], pa.string())
        for i, n in enumerate(names)
    })
    types = infer_column_types(table)
    table = apply_inferred_types(table, types)
    return to_spark(spark, table), {
        "import_type": path[path.rfind(".") :],
        "inferred_types": types,
        "the_geom_geojson": geojson_geom(table),
    }
