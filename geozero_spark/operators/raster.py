"""Raster <-> vector per z/x/y tile.

North-rule operator (SURVEY.md §2.6 "Raster<->vector"); the reference's
anchor is the Tessellator (geometry -> render primitives,
geozero/src/tessellator/mod.rs) — here the distributed shape is:

- rasterize: points -> per-tile HxW pixel grid of counts. Pixel
  assignment is pure floor arithmetic inside the tile (JVM-side), the
  aggregation is a plain groupBy — fully oracle-reproducible.
- vectorize: threshold the raster back into pixel-boundary polygons
  (WKT), the inverse path. Polygon text is integer-scaled concat so it
  is byte-reproducible in SQL.

The binary raster payload (row-major uint32 grid per tile) is built with
applyInArrow + numpy bincount — one Arrow table per tile.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions import sqlgen as sg


def pixel_cols(df: DataFrame, lon: str, lat: str, z: int,
               grid: int = 16) -> DataFrame:
    """Attach (z, x, y, px, py): tile + pixel-in-tile (grid x grid).

    Pixel math reuses the equirect tile formulas at resolution
    ``z + log2(grid)``: the pixel index is the fine-tile index modulo
    grid — exact integer arithmetic, no per-tile float origin.
    """
    assert grid & (grid - 1) == 0, "grid must be a power of two"
    import math
    dz = int(math.log2(grid))
    x, y = sg.tile_xy_eq(lon, lat, z)
    fx, fy = sg.tile_xy_eq(lon, lat, z + dz)
    return (df.withColumn("z", F.lit(z))
            .withColumn("x", F.expr(x)).withColumn("y", F.expr(y))
            .withColumn("px", F.expr(f"({fx}) % {grid}"))
            .withColumn("py", F.expr(f"({fy}) % {grid}")))


def rasterize_counts(df: DataFrame, lon: str = "lon", lat: str = "lat",
                     z: int = 3, grid: int = 16) -> DataFrame:
    """(z, x, y, px, py, n) — the vector->raster aggregation."""
    return (pixel_cols(df, lon, lat, z, grid)
            .groupBy("z", "x", "y", "px", "py")
            .agg(F.count("*").alias("n")))


RASTER_SCHEMA = "z int, x bigint, y bigint, grid int, raster binary"
_RASTER_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int64()),
                           ("y", pa.int64()), ("grid", pa.int32()),
                           ("raster", pa.binary())])


def rasterize_tiles(df: DataFrame, lon: str = "lon", lat: str = "lat",
                    z: int = 3, grid: int = 16) -> DataFrame:
    """One row-major uint32 (big-endian) grid blob per tile."""
    px = pixel_cols(df.select(lon, lat), lon, lat, z, grid)

    def encode(tile_key, tbl):
        zz, xx, yy = (v.as_py() for v in tile_key)
        idx = (tbl.column("py").to_numpy().astype(np.int64) * grid
               + tbl.column("px").to_numpy().astype(np.int64))
        counts = np.bincount(idx, minlength=grid * grid)
        blob = counts.astype(">u4").tobytes()
        return pa.Table.from_pylist(
            [{"z": zz, "x": xx, "y": yy, "grid": grid, "raster": blob}],
            schema=_RASTER_ARROW)

    return px.groupBy("z", "x", "y").applyInArrow(encode, RASTER_SCHEMA)


def vectorize_pixels(counts: DataFrame, threshold: int = 1,
                     z: int = 3, grid: int = 16,
                     scale: int = 100) -> DataFrame:
    """raster -> vector: pixels with n >= threshold become axis-aligned
    pixel-boundary polygons in integer centi-degrees (WKT string).

    Pixel bounds derive from the fine equirect grid at z + log2(grid):
    fine tile (fx, fy) spans lon [fx*w - 180, (fx+1)*w - 180],
    lat [90 - (fy+1)*h, 90 - fy*h] with w = 360/(2*2^(z+dz)),
    h = 180/2^(z+dz). With grid/scale chosen so w*scale and h*scale are
    integers, the WKT is integer concat — SQL-reproducible.
    """
    import math
    dz = int(math.log2(grid))
    nx = 2 << (z + dz)
    ny = 1 << (z + dz)
    w = 360 * scale // nx
    h = 180 * scale // ny
    assert 360 * scale % nx == 0 and 180 * scale % ny == 0
    fx = F.col("x") * grid + F.col("px")
    fy = F.col("y") * grid + F.col("py")
    x0 = fx * w - 180 * scale
    x1 = (fx + 1) * w - 180 * scale
    y1 = 90 * scale - fy * h
    y0 = 90 * scale - (fy + 1) * h

    def s(c):
        return c.cast("string")

    wkt = F.concat(
        F.lit("POLYGON(("),
        s(x0), F.lit(" "), s(y0), F.lit(","),
        s(x1), F.lit(" "), s(y0), F.lit(","),
        s(x1), F.lit(" "), s(y1), F.lit(","),
        s(x0), F.lit(" "), s(y1), F.lit(","),
        s(x0), F.lit(" "), s(y0), F.lit("))"))
    return (counts.where(F.col("n") >= threshold)
            .select("z", "x", "y", "px", "py", "n",
                    wkt.alias("pixel_wkt")))
