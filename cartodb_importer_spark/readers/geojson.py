"""GeoJSON / JSON reader (O7): FeatureCollection -> one row per feature,
properties flattened to sanitized columns, geometry -> ``the_geom`` WKT.

The reference converts GeoJSON to a shapefile with ogr2ogr and loads that
(importer.rb:175-190). Here the document is parsed on the driver, which
then holds every property value, so the property schema is derived there
too, by ``spark.read.json``'s inference rules (``json_schema``): fields
sorted by name, long + double -> double, any other conflict -> string
holding the value's JSON text, objects -> structs, arrays -> arrays,
all-null -> string, empty objects dropped. The columns cross to Spark as
one Arrow table (``frame.to_spark``), and the geometry text becomes WKT
through the lazy JVM expression ``geojson_to_wkt``, so the import's only
Spark job is the publish write. A plain JSON document (an object or an
array of objects) takes the same path without a geometry column.
"""

from __future__ import annotations

import json
import math
import re
from decimal import Decimal

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .. import naming
from ..georef import geojson_to_wkt
from .frame import geojson_geom, to_spark

# Inferred types: "null", "boolean", "long", "double", "string",
# ("decimal", precision, scale), ("array", element) and
# ("struct", ((name, type), ...)) with fields in Java string order.
_LONG = range(-(2**63), 2**63)


def _struct(fields) -> tuple:
    """Struct fields sorted by name as Java's String.compareTo orders them
    (UTF-16 code units)."""
    return ("struct", tuple(sorted(fields, key=lambda f: f[0].encode("utf-16-be"))))


def _infer(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        if v in _LONG:
            return "long"
        digits = len(str(abs(v)))  # a BigInteger: decimal(digits, 0)
        return ("decimal", digits, 0) if digits <= 38 else "double"
    if isinstance(v, float):
        return "double"
    if isinstance(v, str):
        return "string"
    if isinstance(v, dict):
        return _struct((k, _infer(x)) for k, x in v.items())
    t = "null"
    for x in v:
        t = _merge(t, _infer(x))
    return ("array", t)


def _merge_decimal(a, b):
    scale = max(a[2], b[2])
    digits = max(a[1] - a[2], b[1] - b[2]) + scale
    return ("decimal", digits, scale) if digits <= 38 else "double"


def _merge(a, b):
    """Spark's JsonInferSchema.compatibleType."""
    if a == b or b == "null":
        return a
    if a == "null":
        return b
    pair = {a if isinstance(a, str) else a[0], b if isinstance(b, str) else b[0]}
    if pair == {"long", "double"} or pair == {"decimal", "double"}:
        return "double"
    if pair == {"decimal"}:
        return _merge_decimal(a, b)
    if pair == {"long", "decimal"}:
        return _merge_decimal(("decimal", 20, 0), a if a != "long" else b)
    if pair == {"array"}:
        return ("array", _merge(a[1], b[1]))
    if pair == {"struct"}:
        fields = dict(a[1])
        for name, t in b[1]:
            fields[name] = _merge(fields[name], t) if name in fields else t
        return _struct(fields.items())
    return "string"


def _canonical(t):
    """Spark's canonicalizeType: all-null -> string; fields with an empty
    name, and structs left with no fields, are dropped (None)."""
    if t == "null":
        return "string"
    if isinstance(t, tuple) and t[0] == "array":
        element = _canonical(t[1])
        return None if element is None else ("array", element)
    if isinstance(t, tuple) and t[0] == "struct":
        fields = tuple(
            (name, c) for name, ft in t[1]
            if name and (c := _canonical(ft)) is not None
        )
        return ("struct", fields) if fields else None
    return t


def json_schema(records: list[dict]) -> tuple:
    """The struct type ``spark.read.json`` infers for these records."""
    t = "null"
    for r in records:
        t = _merge(t, _infer(r))
    return _canonical(t) or ("struct", ())


def _arrow_type(t) -> pa.DataType:
    if isinstance(t, str):
        return {"boolean": pa.bool_(), "long": pa.int64(),
                "double": pa.float64(), "string": pa.string()}[t]
    if t[0] == "decimal":
        return pa.decimal128(t[1], t[2])
    if t[0] == "array":
        return pa.list_(_arrow_type(t[1]))
    return pa.struct([(name, _arrow_type(ft)) for name, ft in t[1]])


_JSON_ESCAPES = {'"': '\\"', "\\": "\\\\", "\b": "\\b", "\t": "\\t",
                 "\n": "\\n", "\f": "\\f", "\r": "\\r"}
_NEEDS_ESCAPE = re.compile(r'[\x00-\x1f"\\]')


def _java_double(d: float) -> str:
    """Java's Double.toString."""
    if d != d:
        return "NaN"
    if d in (math.inf, -math.inf):
        return "Infinity" if d > 0 else "-Infinity"
    if d == 0:
        return "-0.0" if math.copysign(1.0, d) < 0 else "0.0"
    _, digits, exp = Decimal(repr(abs(d))).normalize().as_tuple()
    digits = "".join(map(str, digits))
    point = len(digits) + exp  # decimal point position within the digits
    sign = "-" if d < 0 else ""
    if 1e-3 <= abs(d) < 1e7:
        if point <= 0:
            return f"{sign}0.{'0' * -point}{digits}"
        if point >= len(digits):
            return f"{sign}{digits}{'0' * (point - len(digits))}.0"
        return f"{sign}{digits[:point]}.{digits[point:]}"
    return f"{sign}{digits[0]}.{digits[1:] or '0'}E{point - 1}"


def _json_text(v) -> str:
    """A parsed JSON value written back the way Spark's JSON parser does
    when it reads one into a string column (Jackson's generator)."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        text = _java_double(v)
        return text if math.isfinite(v) else f'"{text}"'
    if isinstance(v, str):
        return '"' + _NEEDS_ESCAPE.sub(
            lambda m: _JSON_ESCAPES.get(m.group()) or f"\\u{ord(m.group()):04X}", v
        ) + '"'
    if isinstance(v, dict):
        return "{" + ",".join(
            f"{_json_text(k)}:{_json_text(x)}" for k, x in v.items()
        ) + "}"
    return "[" + ",".join(_json_text(x) for x in v) + "]"


def _to_double(v) -> float:
    try:
        return float(v)
    except OverflowError:  # an integer past the double range
        return math.inf if v > 0 else -math.inf


def _value(v, t):
    """A parsed JSON value as Spark reads it into a column of type t."""
    if v is None:
        return None
    if t == "string":
        return v if isinstance(v, str) else _json_text(v)
    if t == "double":
        return _to_double(v)
    if isinstance(t, tuple) and t[0] == "decimal":
        return Decimal(v)
    if isinstance(t, tuple) and t[0] == "array":
        return [_value(x, t[1]) for x in v]
    if isinstance(t, tuple) and t[0] == "struct":
        return {name: _value(v.get(name), ft) for name, ft in t[1]}
    return v  # long, boolean


def _property_columns(records: list[dict]) -> tuple[list[str], dict, dict]:
    """(JSON field names, sanitized name -> values, sanitized name -> Arrow
    type) for the fields ``spark.read.json`` would infer from records."""
    fields = json_schema(records)[1]
    keys = [name for name, _ in fields]
    names = naming.sanitize_columns(keys)
    columns = {n: [_value(r.get(k), t) for r in records]
               for n, (k, t) in zip(names, fields)}
    types = {n: _arrow_type(t) for n, (_, t) in zip(names, fields)}
    return keys, columns, types


def _objects(items: list, what: str) -> list[dict]:
    for i, item in enumerate(items):
        if not isinstance(item, dict):
            raise ValueError(f"{what} {i} is not a JSON object")
    return items


def read_geojson(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    with open(path, encoding="utf-8", errors="replace") as f:
        doc = json.load(f)

    kind = doc.get("type") if isinstance(doc, dict) else None
    if kind not in ("FeatureCollection", "Feature"):
        # plain JSON (array of records or single record) — no geometry
        records = _objects(doc if isinstance(doc, list) else [doc], "record")
        _, columns, types = _property_columns(records)
        return to_spark(spark, columns, types), {
            "import_type": ".json",
            "rows": len(records),
            "the_geom_geojson": geojson_geom(columns),
        }

    features = doc.get("features", []) if kind == "FeatureCollection" else [doc]
    props = _objects(
        [feat.get("properties") or {} for feat in features], "feature properties"
    )
    keys, columns, types = _property_columns(props)
    # the geometry column is named after the properties, as the last column
    geom = naming.sanitize_columns(keys + ["the_geom"])[-1]
    geojson = geojson_geom(columns)  # a property that sanitizes to the_geom
    columns[geom] = [
        json.dumps(feat.get("geometry")) if feat.get("geometry") else None
        for feat in features
    ]
    df = to_spark(spark, columns, types)
    return df.withColumn(geom, geojson_to_wkt(geom)), {
        "import_type": ".json",
        "rows": len(features),
        "the_geom_geojson": geojson,
    }
