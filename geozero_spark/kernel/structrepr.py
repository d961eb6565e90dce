"""Columnar geometry struct — the GeoArrow-style dual of geozero events.

The reference streams geometry as begin/end visitor events
(geozero/src/geometry_processor.rs:94-446). Arrow's columnar dual of
that nesting is a flat coordinate buffer plus offset arrays — exactly
what GeoArrow does and what the reference itself integrates via external
crates (geozero README.md:41-42). Our Spark geometry column is:

    struct<
        kind:      tinyint,        -- OGC type code (wkb_common.rs:52-122)
        srid:      int,
        has_z:     boolean,
        has_m:     boolean,
        bbox:      array<double>,  -- [xmin, ymin, xmax, ymax]; [] if empty
        coords:    array<double>,  -- flat interleaved x,y[,z[,m]]
        offs1:     array<int>,     -- ring/line boundaries (coord index space)
        offs2:     array<int>,     -- polygon/part boundaries (offs1 space)
        wkb:       binary          -- fallback for curves/collections
    >

Simple types (Point/LineString/Polygon/Multi*) use the flat buffers so
numpy passes over Arrow batches never touch per-row Python; exotic types
(curves, surfaces, collections — wkb_common.rs:79-121) round-trip via an
embedded EWKB blob. ``bbox`` is materialized at build time so all bbox
predicates, cell covers, and tile covers run JVM-side on plain doubles.

The dicts ``to_struct`` builds and ``from_struct`` reads are exactly
the rows of the Arrow struct array (``pa.array(structs, type=...)`` /
``functions.udfs.pylist``), so UDFs, ``mapInArrow`` scans and sinks
cross the Python boundary with no intermediate encoding.
"""

from __future__ import annotations

from typing import Any, Optional

from . import bounds as _bounds
from . import wkb as _wkb
from .model import (LINESTRING, MULTILINESTRING, MULTIPOINT,
                    MULTIPOLYGON, POINT, POLYGON, Geom)

FLAT_KINDS = {POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING,
              MULTIPOLYGON}

# Spark DDL for the geometry column (functions/udfs.py uses this string).
GEOMETRY_DDL = ("kind tinyint, srid int, has_z boolean, has_m boolean, "
                "bbox array<double>, coords array<double>, "
                "offs1 array<int>, offs2 array<int>, wkb binary, "
                "tvals array<double>, tmvals array<bigint>")


def _flat_coords(seqs, width: int, m_only: bool):
    # model packs M-without-Z coords as (x, y, None, m); the flat buffer
    # stores (x, y, m) at width 3 and from_struct restores the None slot.
    idxs = (0, 1, 3) if m_only else tuple(range(width))
    out: list[float] = []
    offs: list[int] = [0]
    for seq in seqs:
        for c in seq:
            for k in idxs:
                v = c[k] if k < len(c) and c[k] is not None else float("nan")
                out.append(float(v))
        offs.append(offs[-1] + len(seq))
    return out, offs


def to_struct(g: Optional[Geom]) -> Optional[dict]:
    """Geom -> plain dict matching GEOMETRY_DDL (None passes through)."""
    if g is None:
        return None
    bb = _bounds.bounds(g)
    base = {
        "kind": g.kind,
        "srid": g.srid,
        "has_z": g.has_z,
        "has_m": g.has_m,
        "bbox": list(bb) if bb is not None else [],
        "coords": None,
        "offs1": None,
        "offs2": None,
        "wkb": None,
        # T/TM side lanes (CoordDimensions t/tm): per-coordinate arrays
        # carried verbatim; no format encodes them (reference parity)
        "tvals": list(g.t) if g.t is not None else None,
        "tmvals": [int(v) for v in g.tm] if g.tm is not None else None,
    }
    w = g.coord_width
    m_only = g.has_m and not g.has_z
    k = g.kind
    if k not in FLAT_KINDS or (k == MULTIPOINT and any(
            c is None for c in (g.data or []))):
        base["wkb"] = _wkb.encode(g, dialect=_wkb.DIALECT_EWKB)
        return base
    if k == POINT:
        coords, _ = _flat_coords([[g.data]] if g.data is not None else [[]], w, m_only)
        base["coords"] = coords
    elif k in (LINESTRING, MULTIPOINT):
        coords, _ = _flat_coords([g.data], w, m_only)
        base["coords"] = coords
    elif k in (POLYGON, MULTILINESTRING):
        coords, offs1 = _flat_coords(g.data, w, m_only)
        base["coords"] = coords
        base["offs1"] = offs1
    elif k == MULTIPOLYGON:
        rings = [r for poly in g.data for r in poly]
        coords, offs1 = _flat_coords(rings, w, m_only)
        offs2 = [0]
        for poly in g.data:
            offs2.append(offs2[-1] + len(poly))
        base["coords"] = coords
        base["offs1"] = offs1
        base["offs2"] = offs2
    return base


def _unflat(coords, offs, width: int):
    seqs = []
    for i in range(len(offs) - 1):
        lo, hi = offs[i] * width, offs[i + 1] * width
        run = coords[lo:hi]
        seqs.append([tuple(run[j:j + width])
                     for j in range(0, len(run), width)])
    return seqs


def from_struct(d: Optional[Any]) -> Optional[Geom]:
    """dict/Row -> Geom (inverse of to_struct). NULL, or a struct whose
    every field is NULL (no wkb, no kind), is no geometry."""
    if d is None:
        return None
    get = d.get if isinstance(d, dict) else (lambda k: getattr(d, k, None))
    wkb_blob = get("wkb")
    if wkb_blob is None and get("kind") is None:
        return None
    if wkb_blob is not None:
        g = _wkb.decode(bytes(wkb_blob), dialect=_wkb.DIALECT_EWKB)
        srid = get("srid")
        if srid is not None:
            g.srid = srid
        return g
    kind = int(get("kind"))
    has_z = bool(get("has_z"))
    has_m = bool(get("has_m"))
    srid = get("srid")
    w = 2 + (1 if has_z else 0) + (1 if has_m else 0)
    _c = get("coords")
    coords = [] if _c is None else list(_c)
    offs1 = get("offs1")
    if kind == POINT:
        data = tuple(coords[:w]) if coords else None
    elif kind in (LINESTRING, MULTIPOINT):
        data = [tuple(coords[i:i + w]) for i in range(0, len(coords), w)]
    elif kind in (POLYGON, MULTILINESTRING):
        data = _unflat(coords, [0] if offs1 is None else list(offs1), w)
    elif kind == MULTIPOLYGON:
        rings = _unflat(coords, [0] if offs1 is None else list(offs1), w)
        _o2 = get("offs2")
        offs2 = [0] if _o2 is None else list(_o2)
        data = [rings[offs2[i]:offs2[i + 1]] for i in range(len(offs2) - 1)]
    else:  # pragma: no cover - exotic kinds always carry wkb
        raise ValueError(f"flat struct with unexpected kind {kind}")
    # NaN placeholders back to None for missing z in (x, y, None, m)
    if has_m and not has_z and data is not None:
        def fix(c):
            return (c[0], c[1], None, c[2])
        if kind == POINT:
            data = fix(data) if data is not None else None
        elif kind in (LINESTRING, MULTIPOINT):
            data = [fix(c) for c in data]
        elif kind in (POLYGON, MULTILINESTRING):
            data = [[fix(c) for c in ring] for ring in data]
        elif kind == MULTIPOLYGON:
            data = [[[fix(c) for c in ring] for ring in poly] for poly in data]
    tv = get("tvals")
    tmv = get("tmvals")
    return Geom(kind, data, has_z=has_z, has_m=has_m, srid=srid,
                t=None if tv is None else list(tv),
                tm=None if tmv is None else [int(v) for v in tmv])

