"""z/x/y tile math and the MVT map->tile coordinate transform.

Transform parity target: geozero/src/mvt/mvt_writer.rs:157-173 —
``x' = floor((x - left) * extent/(right-left))``,
``y' = extent - floor((y - bottom) * extent/(top-bottom))`` (Y flipped,
saturating subtraction). Validity rules (mvt_writer.rs:254-307): a
tagged LineString needs >= 2 coords, a polygon ring needs >= 3 distinct
coords ignoring a repeated closing coord (mvt_writer.rs:196-204).

Two tile grids:
- ``tile_xy_eq``: equirectangular (plate carree) tiles over
  lon[-180,180], lat[90,-90] — pure floor arithmetic, exactly
  reproducible in ANSI SQL (used by oracle-checked queries).
- ``tile_xy_wm``: standard WebMercator/OSM slippy tiles (asinh/tan).
"""

from __future__ import annotations

import math

import numpy as np

from .model import Geom


# ---------------------------------------------------------------------------
# Tile grids
# ---------------------------------------------------------------------------

def tile_xy_eq(lon: float, lat: float, z: int):
    """Equirectangular tile containing (lon, lat) at zoom z.

    x in [0, 2^(z+1)) (2:1 aspect), y in [0, 2^z); y grows southward.
    """
    nx = 2 << z
    ny = 1 << z
    x = int((lon + 180.0) / 360.0 * nx)
    y = int((90.0 - lat) / 180.0 * ny)
    return min(max(x, 0), nx - 1), min(max(y, 0), ny - 1)


def tile_xy_wm(lon: float, lat: float, z: int):
    """WebMercator (OSM slippy map) tile containing (lon, lat) at zoom z."""
    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    lat_rad = math.radians(lat)
    y = int((1.0 - math.asinh(math.tan(lat_rad)) / math.pi) / 2.0 * n)
    return min(max(x, 0), n - 1), min(max(y, 0), n - 1)


def tile_bounds_eq(z: int, x: int, y: int):
    """(left, bottom, right, top) lon/lat bounds of an equirect tile."""
    nx = 2 << z
    ny = 1 << z
    w = 360.0 / nx
    h = 180.0 / ny
    left = -180.0 + x * w
    top = 90.0 - y * h
    return left, top - h, left + w, top


def quadkey(z: int, x: int, y: int) -> str:
    """Bing-style quadkey: interleaved base-4 digits, one per zoom level."""
    digits = []
    for i in range(z, 0, -1):
        mask = 1 << (i - 1)
        d = 0
        if x & mask:
            d += 1
        if y & mask:
            d += 2
        digits.append(str(d))
    return "".join(digits)


# ---------------------------------------------------------------------------
# MVT map->tile transform (mvt_writer.rs:157-173)
# ---------------------------------------------------------------------------

_I32_MIN = -(2 ** 31)
_I32_MAX = 2 ** 31 - 1


def _sat_i32(v: float) -> int:
    """Rust `as i32` saturating float->int cast."""
    if v != v:
        return 0
    if v <= _I32_MIN:
        return _I32_MIN
    if v >= _I32_MAX:
        return _I32_MAX
    return int(v)


def mvt_transform(x: float, y: float, extent: int, left: float,
                  bottom: float, right: float, top: float):
    """Map-space coordinate -> integer tile-space coordinate."""
    tx = _sat_i32(math.floor((x - left) * extent / (right - left)))
    ty = _sat_i32(math.floor((y - bottom) * extent / (top - bottom)))
    # Y is stored reversed in tile space; Rust saturating_sub
    ry = extent - ty
    return tx, _sat_i32(ry) if not (_I32_MIN <= ry <= _I32_MAX) else ry


def mvt_transform_np(x: np.ndarray, y: np.ndarray, extent: int, left: float,
                     bottom: float, right: float, top: float):
    """Vectorized mvt_transform over numpy arrays."""
    xm = extent / (right - left)
    ym = extent / (top - bottom)
    tx = np.clip(np.floor((x - left) * xm), _I32_MIN, _I32_MAX).astype(np.int64)
    ty = np.clip(np.floor((y - bottom) * ym), _I32_MIN, _I32_MAX).astype(np.int64)
    ry = np.clip(extent - ty, _I32_MIN, _I32_MAX)
    return tx.astype(np.int32), ry.astype(np.int32)


def distinct_ring_coords(ring) -> int:
    """Ring length ignoring a repeated closing coord (mvt_writer.rs:196-204)."""
    if len(ring) >= 2 and tuple(ring[0]) == tuple(ring[-1]):
        return len(ring) - 1
    return len(ring)


class MvtValidityError(ValueError):
    """MvtError::TooFewCoordinates equivalent."""


def transform_geom_to_tile(geom: Geom, extent: int, left: float,
                           bottom: float, right: float, top: float) -> Geom:
    """Transform a Geom's coordinates to integer tile space, enforcing MVT
    validity rules. Returns a new Geom with int coords (still tuples)."""

    def tf(c):
        return mvt_transform(c[0], c[1], extent, left, bottom, right, top)

    from .model import (GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING,
                        MULTIPOINT, MULTIPOLYGON, POINT, POLYGON)
    t = geom.kind
    if t == POINT:
        if geom.data is None:
            raise MvtValidityError("empty point")
        return Geom(POINT, tf(geom.data))
    if t == MULTIPOINT:
        return Geom(MULTIPOINT, [tf(c) for c in geom.data if c is not None])
    if t == LINESTRING:
        coords = [tf(c) for c in geom.data]
        if len(coords) < 2:
            raise MvtValidityError("LineString with fewer than 2 coordinates")
        return Geom(LINESTRING, coords)
    if t == MULTILINESTRING:
        lines = [[tf(c) for c in line] for line in geom.data]
        if any(len(line) < 2 for line in lines):
            raise MvtValidityError("LineString with fewer than 2 coordinates")
        return Geom(MULTILINESTRING, lines)
    if t == POLYGON:
        rings = [[tf(c) for c in ring] for ring in geom.data]
        if not rings or any(distinct_ring_coords(r) < 3 for r in rings):
            raise MvtValidityError("ring with fewer than 3 distinct coords")
        return Geom(POLYGON, rings)
    if t == MULTIPOLYGON:
        polys = [[[tf(c) for c in ring] for ring in rings]
                 for rings in geom.data]
        for rings in polys:
            if not rings or any(distinct_ring_coords(r) < 3 for r in rings):
                raise MvtValidityError("ring with fewer than 3 distinct coords")
        return Geom(MULTIPOLYGON, polys)
    if t == GEOMETRYCOLLECTION:
        return Geom(GEOMETRYCOLLECTION,
                    [transform_geom_to_tile(m, extent, left, bottom, right,
                                            top) for m in geom.data])
    raise MvtValidityError(f"geometry type {t} not supported in MVT")
