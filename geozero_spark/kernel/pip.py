"""Point-in-polygon: vectorized even-odd ray cast.

The reference's exactness anchor is GEOS prepared-geometry containment
(README.md:77-85); we implement the classic even-odd (PNPOLY) crossing
test. The crossing expression is written EXACTLY as

    (y1 > py) != (y2 > py)  and  px < (x2-x1)*(py-y1)/(y2-y1) + x1

so the identical IEEE-754 double evaluation can be reproduced in ANSI
SQL (DuckDB oracle) and in Spark SQL — bit-identical verdicts on both
sides away from degenerate boundary cases.

Points exactly on a boundary edge follow the raw even-odd verdict (no
special casing), matching PNPOLY semantics.
"""

from __future__ import annotations

import numpy as np

from .model import MULTIPOLYGON, POLYGON, TRIANGLE, Geom


def points_in_ring_np(px: np.ndarray, py: np.ndarray, ring: np.ndarray
                      ) -> np.ndarray:
    """Vectorized even-odd test of many points against one ring.

    ``ring`` is an (n, 2) float64 array. Returns a bool array. Edges with
    y1 == y2 never cross (the strict/non-strict > pair excludes them), so
    the division is guarded.
    """
    x1 = ring[:, 0]
    y1 = ring[:, 1]
    x2 = np.roll(ring[:, 0], 1)
    y2 = np.roll(ring[:, 1], 1)
    crossings = np.zeros(len(px), dtype=np.int64)
    for i in range(len(ring)):
        cond = (y1[i] > py) != (y2[i] > py)
        if not cond.any():
            continue
        with np.errstate(divide="ignore", invalid="ignore"):
            xi = (x2[i] - x1[i]) * (py - y1[i]) / (y2[i] - y1[i]) + x1[i]
        crossings += (cond & (px < xi)).astype(np.int64)
    return (crossings & 1).astype(bool)


def points_in_polygon_np(px: np.ndarray, py: np.ndarray, geom: Geom
                         ) -> np.ndarray:
    """Vectorized even-odd containment of many points vs one geometry."""
    t = geom.kind
    if t in (POLYGON, TRIANGLE):
        ring_sets = [geom.data]
    elif t == MULTIPOLYGON:
        ring_sets = geom.data
    else:
        raise ValueError(f"points_in_polygon expects polygonal geometry, got {t}")
    parity = np.zeros(len(px), dtype=np.int64)
    for rings in ring_sets:
        for ring in rings:
            arr = np.asarray([(c[0], c[1]) for c in ring], dtype=np.float64)
            parity ^= points_in_ring_np(px, py, arr).astype(np.int64)
    return parity.astype(bool)
