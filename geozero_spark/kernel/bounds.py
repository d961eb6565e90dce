"""Streaming bbox aggregate over a geometry.

Parity target: geozero/src/bounds.rs:12-25 (extend), :46-89 — min/max
over every coordinate of every nested part; returns None for empty
geometry (no coords seen).
"""

from __future__ import annotations

from .model import (
    CIRCULARSTRING,
    COMPOUNDCURVE,
    CURVEPOLYGON,
    GEOMETRYCOLLECTION,
    LINESTRING,
    MULTICURVE,
    MULTILINESTRING,
    MULTIPOINT,
    MULTIPOLYGON,
    MULTISURFACE,
    POINT,
    POLYGON,
    POLYHEDRALSURFACE,
    TIN,
    TRIANGLE,
    Geom,
)


def _iter_coords(g: Geom):
    t = g.kind
    if t == POINT:
        if g.data is not None:
            yield g.data
    elif t in (LINESTRING, CIRCULARSTRING):
        yield from g.data
    elif t in (POLYGON, TRIANGLE, MULTILINESTRING):
        for part in g.data:
            yield from part
    elif t == MULTIPOINT:
        for c in g.data:
            if c is not None:
                yield c
    elif t in (MULTIPOLYGON, POLYHEDRALSURFACE, TIN):
        for rings in g.data:
            for ring in rings:
                yield from ring
    elif t in (COMPOUNDCURVE, CURVEPOLYGON, MULTICURVE, MULTISURFACE,
               GEOMETRYCOLLECTION):
        for m in g.data:
            yield from _iter_coords(m)


def bounds(g: Geom):
    """(xmin, ymin, xmax, ymax) or None if the geometry has no coords."""
    xmin = ymin = float("inf")
    xmax = ymax = float("-inf")
    seen = False
    for c in _iter_coords(g):
        x, y = c[0], c[1]
        seen = True
        if x < xmin:
            xmin = x
        if y < ymin:
            ymin = y
        if x > xmax:
            xmax = x
        if y > ymax:
            ymax = y
    return (xmin, ymin, xmax, ymax) if seen else None


def intersects_bbox(g: Geom, minx: float, miny: float, maxx: float,
                    maxy: float) -> bool:
    """Envelope-overlap predicate: True iff the geometry has a bbox and
    it intersects (minx, miny, maxx, maxy) — the filter every
    sequential-scan bbox fallback applies."""
    bb = bounds(g)
    return (bb is not None and bb[0] <= maxx and bb[2] >= minx
            and bb[1] <= maxy and bb[3] >= miny)


def npoints(g: Geom) -> int:
    """Coordinate count (VertexCounter exemplar, tests/geozero-api.rs:5-27)."""
    return sum(1 for _ in _iter_coords(g))
