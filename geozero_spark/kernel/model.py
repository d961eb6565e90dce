"""In-memory geometry model.

The reference streams geometry as visitor events with begin/end nesting
(geozero/src/geometry_processor.rs:94-446). Our columnar dual is a small
recursive value type: coordinate runs are plain tuples, nesting is plain
Python lists. Codecs (wkb/wkt/geojson) convert to and from this model;
vectorized numpy fast paths for hot shapes (point batches) bypass it.

Type codes follow OGC WKBGeometryType (wkb_common.rs:52-122).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Optional

# OGC geometry type codes (base, without Z/M offsets)
POINT = 1
LINESTRING = 2
POLYGON = 3
MULTIPOINT = 4
MULTILINESTRING = 5
MULTIPOLYGON = 6
GEOMETRYCOLLECTION = 7
CIRCULARSTRING = 8
COMPOUNDCURVE = 9
CURVEPOLYGON = 10
MULTICURVE = 11
MULTISURFACE = 12
POLYHEDRALSURFACE = 15
TIN = 16
TRIANGLE = 17

TYPE_NAMES = {
    POINT: "Point",
    LINESTRING: "LineString",
    POLYGON: "Polygon",
    MULTIPOINT: "MultiPoint",
    MULTILINESTRING: "MultiLineString",
    MULTIPOLYGON: "MultiPolygon",
    GEOMETRYCOLLECTION: "GeometryCollection",
    CIRCULARSTRING: "CircularString",
    COMPOUNDCURVE: "CompoundCurve",
    CURVEPOLYGON: "CurvePolygon",
    MULTICURVE: "MultiCurve",
    MULTISURFACE: "MultiSurface",
    POLYHEDRALSURFACE: "PolyhedralSurface",
    TIN: "Tin",
    TRIANGLE: "Triangle",
}

WKT_TAGS = {
    POINT: "POINT",
    LINESTRING: "LINESTRING",
    POLYGON: "POLYGON",
    MULTIPOINT: "MULTIPOINT",
    MULTILINESTRING: "MULTILINESTRING",
    MULTIPOLYGON: "MULTIPOLYGON",
    GEOMETRYCOLLECTION: "GEOMETRYCOLLECTION",
    CIRCULARSTRING: "CIRCULARSTRING",
    COMPOUNDCURVE: "COMPOUNDCURVE",
    CURVEPOLYGON: "CURVEPOLYGON",
    MULTICURVE: "MULTICURVE",
    MULTISURFACE: "MULTISURFACE",
    POLYHEDRALSURFACE: "POLYHEDRALSURFACE",
    TIN: "TIN",
    TRIANGLE: "TRIANGLE",
}

# Coordinate tuple layout (``Coord`` below): (x, y) or (x, y, z) or
# (x, y, z, m) or (x, y, None, m); z/m presence is tracked on the Geom,
# not per-coord.


@dataclass
class Geom:
    """A geometry value.

    ``data`` layout per ``kind``:

    - POINT: a coord tuple, or ``None`` for POINT EMPTY
    - LINESTRING / CIRCULARSTRING: list[Coord]
    - POLYGON / TRIANGLE: list[list[Coord]] (rings)
    - MULTIPOINT: list[Coord | None] (``None`` = EMPTY member)
    - MULTILINESTRING: list[list[Coord]]
    - MULTIPOLYGON / POLYHEDRALSURFACE / TIN: list[list[list[Coord]]]
    - COMPOUNDCURVE / CURVEPOLYGON / MULTICURVE / MULTISURFACE /
      GEOMETRYCOLLECTION: list[Geom]
    """

    kind: int
    data: Any
    has_z: bool = False
    has_m: bool = False
    srid: Optional[int] = None
    # SpatiaLite/GPKG blobs carry an envelope in their header; kept for
    # header-exact re-encode (wkb_reader.rs:256-268, :306-311).
    envelope: list = field(default_factory=list)
    # T / TM side lanes (geometry_processor.rs:31-76 CoordDimensions):
    # flat per-coordinate arrays in traversal order — t is geodetic
    # decimal-year time (f64), tm nanosecond time (u64). Like the
    # reference's coordinate(x, y, z, m, t, tm) callback they ride
    # ALONGSIDE the coordinates: transforms forward them untouched and
    # every format writer ignores them (wkt_writer.rs:109-136).
    t: Optional[list] = None
    tm: Optional[list] = None

    @property
    def has_t(self) -> bool:
        return self.t is not None

    @property
    def has_tm(self) -> bool:
        return self.tm is not None

    @property
    def coord_width(self) -> int:
        return 2 + (1 if self.has_z else 0) + (1 if self.has_m else 0)

    def is_empty(self) -> bool:
        if self.kind == POINT:
            return self.data is None
        return not self.data


def point(x: float, y: float, z: float | None = None, m: float | None = None,
          srid: int | None = None) -> Geom:
    c: tuple
    if m is not None:
        c = (x, y, z, m)
    elif z is not None:
        c = (x, y, z)
    else:
        c = (x, y)
    return Geom(POINT, c, has_z=z is not None, has_m=m is not None, srid=srid)
