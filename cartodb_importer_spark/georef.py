"""Georeferencing operators (O11-O13) as vectorized column expressions.

The reference does this in PostGIS: a per-row UPDATE loop for GeoJSON cells
(importer.rb:277-285 — with the author's own "should probably window this"
TODO) and one set-based UPDATE for lat/lon points (importer.rb:320-331).
Here both are single ``withColumn`` passes — whole-stage codegen, no Python
in the row path, no loop.

Geometry model: ``the_geom`` is a WKT string column, SRID fixed 4326, 2D
(matching importer.rb:273,318,380). Spark has no native geometry type and
Sedona is out of the dependency set by design (SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# importer.rb:299-300 — candidate column names, lowercase, first match wins.
LATITUDE_CANDIDATES = ["latitude", "lat", "latitudedecimal", "latitud", "lati"]
LONGITUDE_CANDIDATES = ["longitude", "lon", "lng", "longitudedecimal", "longitud", "long"]

# importer.rb:327-329 — range-validating guard regexes, verbatim.
LON_RX = r"^(([-+]?(([0-9]|[1-9][0-9]|1[0-7][0-9])(\.[0-9]+)?))|[-+]?180)$"
LAT_RX = r"^(([-+]?(([0-9]|[1-8][0-9])(\.[0-9]+)?))|[-+]?90)$"


def find_latlon_columns(columns: list[str]) -> tuple[str | None, str | None]:
    """O12 (importer.rb:296-313): case-insensitive first-hit lookup of the
    candidate lat/lon names over the actual column list."""
    lower = {c.lower(): c for c in columns}
    lat = next((lower[c] for c in LATITUDE_CANDIDATES if c in lower), None)
    lon = next((lower[c] for c in LONGITUDE_CANDIDATES if c in lower), None)
    return lat, lon


def point_wkt(lon: Column, lat: Column) -> Column:
    """O13: WKT POINT guarded by the reference's range regexes — rows whose
    textual lon/lat fail validation get NULL geometry, exactly like the
    guarded UPDATE's WHERE clause."""
    lon_s = lon.cast("string")
    lat_s = lat.cast("string")
    return F.when(
        lon_s.rlike(LON_RX) & lat_s.rlike(LAT_RX),
        F.concat(F.lit("POINT("), lon_s, F.lit(" "), lat_s, F.lit(")")),
    )


def georeference_points(df: DataFrame) -> DataFrame:
    """Auto-georeference: if the DataFrame has no ``the_geom`` but has
    discoverable lat/lon columns, add ``the_geom`` (O12+O13). No-op
    otherwise, mirroring importer.rb:296-298."""
    if "the_geom" in df.columns:
        return df
    lat, lon = find_latlon_columns(df.columns)
    if lat is None or lon is None:
        return df
    return df.withColumn("the_geom", point_wkt(F.col(lon), F.col(lat)))


def geojson_point_to_wkt(geom: Column) -> Column:
    """O11 (importer.rb:252-294) for Point geometries: GeoJSON text cell ->
    WKT, unparseable -> NULL (the reference's silent per-row failure,
    importer.rb:282-284, becomes a vectorized null)."""
    gtype = F.get_json_object(geom, "$.type")
    x = F.get_json_object(geom, "$.coordinates[0]")
    y = F.get_json_object(geom, "$.coordinates[1]")
    return F.when(
        (gtype == "Point") & x.isNotNull() & y.isNotNull(),
        F.concat(F.lit("POINT("), x, F.lit(" "), y, F.lit(")")),
    )


# GeoJSON -> WKT as one SQL expression over a geometry column ``{g}``. One
# parse on the JVM replaces the ~550 py4j calls composing it from Column
# functions (a third of a second per file); the expression is the same.
_RING_WKT = (
    "concat('(', array_join(transform({ring}, p -> concat("
    "cast(p[0] AS STRING), ' ', cast(p[1] AS STRING))), ', '), ')')"
)
_GEOJSON_TO_WKT = f"""CASE get_json_object({{g}}, '$.type')
  WHEN 'Point' THEN CASE
    WHEN get_json_object({{g}}, '$.coordinates[0]') IS NOT NULL
     AND get_json_object({{g}}, '$.coordinates[1]') IS NOT NULL
    THEN concat('POINT(', get_json_object({{g}}, '$.coordinates[0]'), ' ',
                get_json_object({{g}}, '$.coordinates[1]'), ')') END
  WHEN 'Polygon' THEN concat('POLYGON(', array_join(transform(
    from_json(get_json_object({{g}}, '$.coordinates'),
              'array<array<array<double>>>'),
    r -> {_RING_WKT.format(ring="r")}), ', '), ')')
  WHEN 'MultiPolygon' THEN concat('MULTIPOLYGON(', array_join(transform(
    from_json(get_json_object({{g}}, '$.coordinates'),
              'array<array<array<array<double>>>>'),
    poly -> concat('(', array_join(transform(
      poly, r -> {_RING_WKT.format(ring="r")}), ', '), ')')), ', '), ')')
END"""


def geojson_to_wkt(column: str) -> Column:
    """General GeoJSON -> WKT of the named column, for the types the
    reference exercises (Point / MultiPolygon per spec fixtures, plus
    Polygon); other types and unparseable cells -> NULL. Coordinates are
    parsed with from_json into typed arrays; everything stays JVM-side."""
    return F.expr(_GEOJSON_TO_WKT.format(g=f"`{column.replace('`', '``')}`"))


def rebuild_the_geom(df: DataFrame) -> DataFrame:
    """Full O11: if ``the_geom`` holds GeoJSON text, convert the column to
    WKT in one vectorized pass (reference: rename to the_geom_orig, row
    loop, drop — importer.rb:262-294)."""
    if "the_geom" not in df.columns:
        return df
    return df.withColumn("the_geom", geojson_to_wkt("the_geom"))
