"""Raster reader (O18, importer.rb:406-459): GeoTIFF -> rows of 180x180
tile blocks (the reference's raster2pgsql -k 180x180 blocking).

readers/tiff.py decodes band 1 of a classic or BigTIFF container, strip-
or tile-organized, with the compressions and predictors it lists: real
pixels, real 180x180 windowing, real SRID from the GeoKey directory, no
native dependency. A file it cannot decode raises ValueError.
"""

from __future__ import annotations

import struct
import zlib

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .frame import to_spark
from .tiff import decode_tiff

TILE = 180  # importer.rb:426-427

_TILE_COLUMNS = ("rid", "tile_x", "tile_y", "width", "height", "srid", "block")
_TILE_TYPES = {**dict.fromkeys(_TILE_COLUMNS[:-1], pa.int32()), "block": pa.binary()}


#: what decode_tiff raises on a file it cannot decode: its own refusals are
#: ValueErrors; a truncated or corrupt file fails wherever a read or a
#: lookup runs off its data. read_raster turns each into a ValueError.
DECODE_ERRORS = (
    ValueError, TypeError, IndexError, KeyError, OverflowError, struct.error, zlib.error,
)


def read_raster(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Window band 1 into TILE x TILE blocks, the blocking raster2pgsql
    -k 180x180 performs: one row per block with rid, tile_x, tile_y,
    width, height, srid (int) and the block's pixel bytes."""
    with open(path, "rb") as f:
        data = f.read()
    try:
        band, meta = decode_tiff(data)
    except DECODE_ERRORS as exc:
        raise ValueError(f"cannot decode raster {path}: {exc}") from exc
    srid = meta["srid"] or 4326
    height, width = band.shape
    rows = []
    for ty in range(0, height, TILE):
        for tx in range(0, width, TILE):
            block = band[ty : ty + TILE, tx : tx + TILE]
            h, w = block.shape
            rows.append(
                (len(rows), tx // TILE, ty // TILE, w, h, srid, block.tobytes())
            )
    columns = {c: [r[i] for r in rows] for i, c in enumerate(_TILE_COLUMNS)}
    return to_spark(spark, columns, _TILE_TYPES), {
        "import_type": ".tif",
        "rows": len(rows),
        "width": width,
        "height": height,
        "dtype": str(band.dtype),
        "pixel_scale": meta["pixel_scale"],
        "tiepoint": meta["tiepoint"],
    }

