"""The one hand-off from a driver-side decoder to Spark.

XLSX, SHP, KML, GPX, GeoJSON and raster files are decoded on the driver,
so their readers already hold every value. ``to_spark`` packs the reader's
columns into a ``pyarrow.Table`` and passes it to
``spark.createDataFrame``: the table crosses to the JVM as Arrow record
batches, with no per-row pickling and no Spark job until the frame is
written. The publish write is then the import's only job.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession


def to_spark(
    spark: SparkSession,
    columns: pa.Table | Mapping[str, Sequence | pa.Array | pa.ChunkedArray],
    types: Mapping[str, pa.DataType] | None = None,
) -> DataFrame:
    """DataFrame over driver-held columns, in mapping order. A plain
    sequence becomes an Arrow array of ``types[name]`` (string when not
    given); Arrow arrays pass through as they are."""
    if not isinstance(columns, pa.Table):
        types = types or {}
        columns = pa.table({
            name: values
            if isinstance(values, (pa.Array, pa.ChunkedArray))
            else pa.array(values, types.get(name, pa.string()))
            for name, values in columns.items()
        })
    return spark.createDataFrame(columns)


def geojson_geom(columns: pa.Table | Mapping) -> bool:
    """Whether the ``the_geom`` column holds GeoJSON text rather than WKT:
    its first non-null cell starts with ``{``. This is the probe
    ``Importer.run`` runs as a Spark job for the distributed readers; a
    driver-side reader answers it from the column it holds and reports it
    as ``meta['the_geom_geojson']``."""
    names = columns.column_names if isinstance(columns, pa.Table) else columns
    if "the_geom" not in names:
        return False
    values = columns["the_geom"]
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        values = values.drop_null()[:1].to_pylist()
    first = next((v for v in values if v is not None), None)
    return first is not None and str(first).lstrip().startswith("{")
