"""Hierarchical grid cell index (S2/H3-style, Morton/z-order curve).

The reference has no cell index of its own; its pushdown surfaces are a
packed-Hilbert R-tree (FlatGeobuf, README.md:88-95) and bbox R-tree
joins (geozero-bench/benches/geobench.rs:198-208). We re-express that
"space-filling-curve index enables range pruning" idea as a Morton
(z-order) cell id over a regular lon/lat grid:

    cell_id(res) = (res << 58) | interleave(ix, iy)

where ``ix = floor((lon+180)/360 * 2^res)``, ``iy = floor((lat+90)/180 *
2^res)``, both clamped to ``[0, 2^res-1]``. Morton order gives the
hierarchy property ``parent = (cell >> 2)`` on the payload bits, so a
cell at resolution r covers the contiguous id range
``[child_min(r+k), child_max(r+k)]`` at any finer resolution — exactly
what Parquet min/max pruning and range partitioning need.

All functions are integer/float arithmetic only, so the same math runs
as Spark Column expressions (functions/expr.py) and as DuckDB oracle SQL
(functions/sqlgen.py); this module is the reference implementation and
the per-row fallback used inside Arrow UDFs.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 29  # 2*29 = 58 morton bits + 5 res-tag bits fits in int64
_RES_SHIFT = 58

# spread-bits masks for 32->64 interleave
_M0 = 0x0000FFFF0000FFFF
_M1 = 0x00FF00FF00FF00FF
_M2 = 0x0F0F0F0F0F0F0F0F
_M3 = 0x3333333333333333
_M4 = 0x5555555555555555


def _spread(v):
    """Interleave zeros between the low 32 bits of v (works for python ints
    and numpy int64 arrays)."""
    v = (v | (v << 16)) & _M0
    v = (v | (v << 8)) & _M1
    v = (v | (v << 4)) & _M2
    v = (v | (v << 2)) & _M3
    v = (v | (v << 1)) & _M4
    return v


def lonlat_to_ixiy(lon: float, lat: float, res: int):
    n = 1 << res
    ix = int((lon + 180.0) / 360.0 * n)
    iy = int((lat + 90.0) / 180.0 * n)
    ix = min(max(ix, 0), n - 1)
    iy = min(max(iy, 0), n - 1)
    return ix, iy


def cell_id(lon: float, lat: float, res: int) -> int:
    """Cell id of the grid cell containing (lon, lat) at resolution res."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"resolution must be in [0, {MAX_RES}]")
    ix, iy = lonlat_to_ixiy(lon, lat, res)
    return (res << _RES_SHIFT) | (_spread(ix) | (_spread(iy) << 1))


def cell_id_np(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """Vectorized cell_id over numpy arrays (float64 -> int64)."""
    n = 1 << res
    ix = np.clip(((lon + 180.0) / 360.0 * n).astype(np.int64), 0, n - 1)
    iy = np.clip(((lat + 90.0) / 180.0 * n).astype(np.int64), 0, n - 1)
    ux = ix.astype(np.uint64)
    uy = iy.astype(np.uint64)
    m = _spread(ux) | (_spread(uy) << np.uint64(1))
    return (m | np.uint64(res << _RES_SHIFT)).astype(np.int64)


def cell_res(cell: int) -> int:
    return (cell >> _RES_SHIFT) & 0x1F


def make_cell(ix: int, iy: int, res: int) -> int:
    return (res << _RES_SHIFT) | (_spread(ix) | (_spread(iy) << 1))


def parent(cell: int, steps: int = 1) -> int:
    res = cell_res(cell)
    if steps > res:
        raise ValueError("cannot go above resolution 0")
    morton = (cell & ((1 << _RES_SHIFT) - 1)) >> (2 * steps)
    return ((res - steps) << _RES_SHIFT) | morton


def cell_range(cell: int, at_res: int):
    """Contiguous [lo, hi] id range (payload-inclusive) of all descendants
    of ``cell`` at resolution ``at_res`` — the pruning interval."""
    res = cell_res(cell)
    if at_res < res:
        raise ValueError("at_res must be >= cell resolution")
    shift = 2 * (at_res - res)
    morton = cell & ((1 << _RES_SHIFT) - 1)
    lo = (at_res << _RES_SHIFT) | (morton << shift)
    hi = (at_res << _RES_SHIFT) | (((morton + 1) << shift) - 1)
    return lo, hi


def cover_bbox(xmin: float, ymin: float, xmax: float, ymax: float,
               res: int, limit: int = 4096) -> list[int]:
    """Cells intersecting a bbox at resolution ``res`` (conservative cover
    used for the polygon side of the cell-prefilter join)."""
    n = 1 << res
    ix0, iy0 = lonlat_to_ixiy(xmin, ymin, res)
    ix1, iy1 = lonlat_to_ixiy(xmax, ymax, res)
    count = (ix1 - ix0 + 1) * (iy1 - iy0 + 1)
    if count > limit:
        raise ValueError(
            f"bbox cover of {count} cells exceeds limit {limit}; "
            f"use a coarser resolution")
    return [make_cell(ix, iy, res)
            for iy in range(iy0, iy1 + 1) for ix in range(ix0, ix1 + 1)]
