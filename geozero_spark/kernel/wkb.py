"""WKB codec: OGC WKB, PostGIS EWKB, GeoPackage, SpatiaLite, MySQL.

Behavioral parity targets in the reference:
- header parsing per dialect: geozero/src/wkb/wkb_reader.rs:192-367
- recursive descent over geometry bodies: wkb_reader.rs:369-488
- SpatiaLite compressed (f32 delta) coords: wkb_reader.rs:516-538, 558-580
- nesting-depth guard (max 128): wkb_reader.rs:3-5, 377-379
- writer headers/footers per dialect: geozero/src/wkb/wkb_writer.rs:102-267
- NaN point coords decode as POINT EMPTY: wkb_reader.rs:381-393

Decoding is strict: truncated input or unknown type codes raise
``WkbError`` (mirrors GeozeroError::GeometryFormat / I/O errors).
"""

from __future__ import annotations

import struct
from typing import Optional

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

WKB_MAX_NESTING_DEPTH = 128  # wkb_reader.rs:5

DIALECT_WKB = "wkb"
DIALECT_EWKB = "ewkb"
DIALECT_GPKG = "gpkg"
DIALECT_SPATIALITE = "spatialite"
DIALECT_MYSQL = "mysql"

_VALID_BASE_TYPES = frozenset([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 15, 16, 17])


class WkbError(ValueError):
    pass


class _Cursor:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u8(self) -> int:
        if self.pos + 1 > len(self.buf):
            raise WkbError("unexpected end of WKB")
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def u32(self, le: bool) -> int:
        if self.pos + 4 > len(self.buf):
            raise WkbError("unexpected end of WKB")
        v = struct.unpack_from("<I" if le else ">I", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def i32(self, le: bool) -> int:
        if self.pos + 4 > len(self.buf):
            raise WkbError("unexpected end of WKB")
        v = struct.unpack_from("<i" if le else ">i", self.buf, self.pos)[0]
        self.pos += 4
        return v

    def f64(self, le: bool) -> float:
        if self.pos + 8 > len(self.buf):
            raise WkbError("unexpected end of WKB")
        v = struct.unpack_from("<d" if le else ">d", self.buf, self.pos)[0]
        self.pos += 8
        return v

    def f32(self, le: bool) -> float:
        if self.pos + 4 > len(self.buf):
            raise WkbError("unexpected end of WKB")
        v = struct.unpack_from("<f" if le else ">f", self.buf, self.pos)[0]
        self.pos += 4
        return v


class _Info:
    """Per-header parse state (mirrors WkbInfo, wkb_reader.rs:168-180)."""

    __slots__ = ("le", "base_type", "has_z", "has_m", "srid", "envelope",
                 "compressed")

    def __init__(self, le: bool, base_type: int, has_z: bool, has_m: bool,
                 srid: Optional[int] = None, envelope=None,
                 compressed: bool = False):
        if base_type not in _VALID_BASE_TYPES:
            raise WkbError(f"unsupported WKB geometry type {base_type}")
        self.le = le
        self.base_type = base_type
        self.has_z = has_z
        self.has_m = has_m
        self.srid = srid
        self.envelope = envelope or []
        self.compressed = compressed


# ---------------------------------------------------------------------------
# Header readers (one per dialect), wkb_reader.rs:192-367
# ---------------------------------------------------------------------------

def _read_wkb_header(cur: _Cursor) -> _Info:
    le = cur.u8() != 0
    type_id = cur.u32(le)
    dim = type_id // 1000
    return _Info(le, type_id % 1000, dim in (1, 3), dim in (2, 3))


def _read_ewkb_header(cur: _Cursor) -> _Info:
    le = cur.u8() != 0
    type_id = cur.u32(le)
    srid = cur.i32(le) if type_id & 0x2000_0000 else None
    return _Info(le, type_id & 0xFF, bool(type_id & 0x8000_0000),
                 bool(type_id & 0x4000_0000), srid)


def _read_gpkg_header(cur: _Cursor) -> _Info:
    if cur.u8() != 0x47 or cur.u8() != 0x50:  # b"GP"
        raise WkbError("invalid GPKG magic")
    cur.u8()  # version
    flags = cur.u8()
    env_code = (flags & 0b0000_1110) >> 1
    env_len = {0: 0, 1: 4, 2: 6, 3: 6, 4: 8}.get(env_code)
    if env_len is None:
        raise WkbError("invalid GPKG envelope flag")
    le = bool(flags & 1)
    srid = cur.i32(le)
    envelope = [cur.f64(le) for _ in range(env_len)]
    inner = _read_wkb_header(cur)
    inner.srid = srid
    inner.envelope = envelope
    return inner


def _read_spatialite_header(cur: _Cursor) -> _Info:
    if cur.u8() != 0:
        raise WkbError("invalid SpatiaLite start byte")
    flags = cur.u8()
    le = bool(flags & 1)
    tiny = bool(flags & 0b1000_0000)
    srid_val = cur.i32(le)
    srid = None if srid_val == 0 else srid_val
    if tiny:
        dim = cur.u8()
        return _Info(le, POINT, dim in (2, 4), dim in (3, 4), srid)
    envelope = [cur.f64(le) for _ in range(4)]
    if cur.u8() != 0x7C:
        raise WkbError("invalid SpatiaLite MBR terminator")
    type_id = cur.u32(le)
    dim = (type_id % 1000000) // 1000
    return _Info(le, type_id % 1000, dim in (1, 3), dim in (2, 3), srid,
                 envelope, compressed=type_id > 1000000)


def _read_spatialite_nested(cur: _Cursor, info: _Info) -> _Info:
    if cur.u8() != 0x69:
        raise WkbError("invalid SpatiaLite nested marker")
    type_id = cur.u32(info.le)
    return _Info(info.le, type_id % 1000, info.has_z, info.has_m, info.srid,
                 compressed=type_id > 1000000)


def _read_mysql_header(cur: _Cursor) -> _Info:
    srid = cur.u32(True)
    if srid > 0x7FFF_FFFF:
        raise WkbError("invalid MySQL SRID")
    inner = _read_wkb_header(cur)
    if not inner.le:
        raise WkbError("MySQL WKB must be little-endian")
    inner.srid = srid
    return inner


# ---------------------------------------------------------------------------
# Decode
# ---------------------------------------------------------------------------

def decode(buf: bytes, dialect: str = DIALECT_EWKB) -> Geom:
    """Decode one WKB blob into a :class:`Geom`."""
    cur = _Cursor(bytes(buf))
    if dialect == DIALECT_WKB:
        info = _read_wkb_header(cur)
        nested = _read_any_wkb_nested
    elif dialect == DIALECT_EWKB:
        info = _read_ewkb_header(cur)
        nested = _read_any_ewkb_nested
    elif dialect == DIALECT_GPKG:
        info = _read_gpkg_header(cur)
        nested = _read_any_wkb_nested
    elif dialect == DIALECT_SPATIALITE:
        info = _read_spatialite_header(cur)
        nested = _read_spatialite_nested
    elif dialect == DIALECT_MYSQL:
        info = _read_mysql_header(cur)
        nested = _read_any_wkb_nested
    else:
        raise WkbError(f"unknown dialect {dialect!r}")
    geom = _decode_body(cur, info, nested, 0)
    geom.srid = info.srid
    geom.envelope = info.envelope
    return geom


def _read_any_wkb_nested(cur: _Cursor, _info: _Info) -> _Info:
    return _read_wkb_header(cur)


def _read_any_ewkb_nested(cur: _Cursor, _info: _Info) -> _Info:
    return _read_ewkb_header(cur)


def _read_coord(cur: _Cursor, info: _Info):
    x = cur.f64(info.le)
    y = cur.f64(info.le)
    z = cur.f64(info.le) if info.has_z else None
    m = cur.f64(info.le) if info.has_m else None
    return x, y, z, m


def _pack_coord(x, y, z, m, has_z, has_m):
    if has_m:
        return (x, y, z, m) if has_z else (x, y, None, m)
    if has_z:
        return (x, y, z)
    return (x, y)


def _read_coords(cur: _Cursor, info: _Info, n: int) -> list:
    """Coordinate run; SpatiaLite compressed runs use f32 deltas for the
    interior coords with full f64 endpoints (wkb_reader.rs:558-580)."""
    out = []
    if info.compressed and n > 0:
        x, y, z, m = _read_coord(cur, info)
        out.append(_pack_coord(x, y, z, m, info.has_z, info.has_m))
        for _ in range(1, n - 1):
            dx = cur.f32(info.le)
            dy = cur.f32(info.le)
            dz = cur.f32(info.le) if info.has_z else None
            mm = cur.f64(info.le) if info.has_m else None
            x = x + dx
            y = y + dy
            z = (z + dz) if (info.has_z and z is not None) else None
            m = mm
            out.append(_pack_coord(x, y, z, m, info.has_z, info.has_m))
        x, y, z, m = _read_coord(cur, info)
        out.append(_pack_coord(x, y, z, m, info.has_z, info.has_m))
    else:
        for _ in range(n):
            x, y, z, m = _read_coord(cur, info)
            out.append(_pack_coord(x, y, z, m, info.has_z, info.has_m))
    return out


def _read_rings(cur: _Cursor, info: _Info) -> list:
    n_rings = cur.u32(info.le)
    return [_read_coords(cur, info, cur.u32(info.le)) for _ in range(n_rings)]


def _decode_body(cur: _Cursor, info: _Info, nested, depth: int) -> Geom:
    if depth > WKB_MAX_NESTING_DEPTH:
        raise WkbError(
            f"WKB geometry nesting exceeds maximum depth of {WKB_MAX_NESTING_DEPTH}")
    t = info.base_type
    g = Geom(t, None, has_z=info.has_z, has_m=info.has_m)

    if t == POINT:
        x, y, z, m = _read_coord(cur, info)
        all_nan = (x != x and y != y
                   and (z is None or z != z) and (m is None or m != m))
        g.data = None if all_nan else _pack_coord(x, y, z, m, info.has_z,
                                                  info.has_m)
    elif t in (LINESTRING, CIRCULARSTRING):
        g.data = _read_coords(cur, info, cur.u32(info.le))
    elif t in (POLYGON, TRIANGLE):
        g.data = _read_rings(cur, info)
    elif t == MULTIPOINT:
        n = cur.u32(info.le)
        pts = []
        for _ in range(n):
            sub = nested(cur, info)
            x, y, z, m = _read_coord(cur, sub)
            all_nan = (x != x and y != y
                       and (z is None or z != z) and (m is None or m != m))
            pts.append(None if all_nan
                       else _pack_coord(x, y, z, m, sub.has_z, sub.has_m))
        g.data = pts
    elif t == MULTILINESTRING:
        n = cur.u32(info.le)
        lines = []
        for _ in range(n):
            sub = nested(cur, info)
            lines.append(_read_coords(cur, sub, cur.u32(sub.le)))
        g.data = lines
    elif t in (MULTIPOLYGON, POLYHEDRALSURFACE, TIN):
        n = cur.u32(info.le)
        polys = []
        for _ in range(n):
            sub = nested(cur, info)
            polys.append(_read_rings(cur, sub))
        g.data = polys
    elif t == COMPOUNDCURVE:
        n = cur.u32(info.le)
        segs = []
        for _ in range(n):
            sub = nested(cur, info)
            if sub.base_type not in (LINESTRING, CIRCULARSTRING):
                raise WkbError("invalid CompoundCurve segment")
            segs.append(Geom(sub.base_type,
                             _read_coords(cur, sub, cur.u32(sub.le)),
                             has_z=sub.has_z, has_m=sub.has_m))
        g.data = segs
    elif t == CURVEPOLYGON:
        n = cur.u32(info.le)
        rings = []
        for _ in range(n):
            rings.append(_decode_curve(cur, info, nested, depth + 1))
        g.data = rings
    elif t == MULTICURVE:
        n = cur.u32(info.le)
        g.data = [_decode_curve(cur, info, nested, depth + 1)
                  for _ in range(n)]
    elif t == MULTISURFACE:
        n = cur.u32(info.le)
        surfs = []
        for _ in range(n):
            sub = nested(cur, info)
            if sub.base_type == POLYGON:
                surfs.append(Geom(POLYGON, _read_rings(cur, sub),
                                  has_z=sub.has_z, has_m=sub.has_m))
            elif sub.base_type == CURVEPOLYGON:
                surfs.append(_decode_body(cur, sub, nested, depth + 1))
            else:
                raise WkbError("invalid MultiSurface member")
        g.data = surfs
    elif t == GEOMETRYCOLLECTION:
        n = cur.u32(info.le)
        members = []
        for _ in range(n):
            sub = nested(cur, info)
            members.append(_decode_body(cur, sub, nested, depth + 1))
        g.data = members
    else:
        raise WkbError(f"unsupported geometry type {t}")
    return g


def _decode_curve(cur: _Cursor, info: _Info, nested, depth: int) -> Geom:
    """A curve member: LineString, CircularString or CompoundCurve
    (wkb_reader.rs:657-674)."""
    sub = nested(cur, info)
    if sub.base_type in (LINESTRING, CIRCULARSTRING):
        return Geom(sub.base_type, _read_coords(cur, sub, cur.u32(sub.le)),
                    has_z=sub.has_z, has_m=sub.has_m)
    if sub.base_type == COMPOUNDCURVE:
        return _decode_body(cur, sub, nested, depth + 1)
    raise WkbError("invalid curve member")


# ---------------------------------------------------------------------------
# Encode
# ---------------------------------------------------------------------------

class _Writer:
    """Little-endian WKB writer; replicates WkbWriter header/footer rules
    (wkb_writer.rs:102-267). Always writes LE like the reference default."""

    def __init__(self, dialect: str, has_z: bool, has_m: bool,
                 srid: Optional[int], envelope):
        self.dialect = dialect
        self.has_z = has_z
        self.has_m = has_m
        self.srid = srid
        self.envelope = list(envelope or [])
        self.first_header = True
        self.parts: list[bytes] = []

    def header(self, base_type: int) -> None:
        d = self.dialect
        if d == DIALECT_WKB:
            self._wkb_header(base_type)
        elif d == DIALECT_EWKB:
            self._ewkb_header(base_type)
        elif d == DIALECT_GPKG:
            if self.first_header:
                self._gpkg_prefix()
                self.first_header = False
            self._wkb_header(base_type)
        elif d == DIALECT_MYSQL:
            if self.first_header:
                srid = self.srid or 0
                if srid < 0:
                    raise WkbError(f"invalid SRID {srid}")
                self.parts.append(struct.pack("<I", srid))
                self.first_header = False
            self._wkb_header(base_type)
        elif d == DIALECT_SPATIALITE:
            self._spatialite_header(base_type)
        else:
            raise WkbError(f"unknown dialect {d!r}")

    def footer(self) -> None:
        if self.dialect == DIALECT_SPATIALITE:
            self.parts.append(b"\xfe")

    def _type_id(self, base_type: int) -> int:
        t = base_type
        if self.has_z:
            t += 1000
        if self.has_m:
            t += 2000
        return t

    def _wkb_header(self, base_type: int) -> None:
        self.parts.append(b"\x01" + struct.pack("<I", self._type_id(base_type)))

    def _ewkb_header(self, base_type: int) -> None:
        t = base_type
        if self.has_z:
            t |= 0x8000_0000
        if self.has_m:
            t |= 0x4000_0000
        if self.srid is not None and self.first_header:
            t |= 0x2000_0000
        self.parts.append(b"\x01" + struct.pack("<I", t))
        if self.first_header:
            if self.srid is not None:
                self.parts.append(struct.pack("<i", self.srid))
            self.first_header = False

    def _gpkg_prefix(self) -> None:
        flags = 0b0000_0001  # little-endian
        if self.envelope:
            flags |= 1 << 1  # xy envelope [minx, maxx, miny, maxy]
        self.parts.append(b"GP\x00" + bytes([flags]))
        self.parts.append(struct.pack("<i", self.srid if self.srid is not None else 0))
        for v in self.envelope:
            self.parts.append(struct.pack("<d", v))

    def _spatialite_header(self, base_type: int) -> None:
        if self.first_header:
            env = self.envelope if self.envelope else [0.0, 0.0, 0.0, 0.0]
            self.parts.append(b"\x00\x01")
            self.parts.append(struct.pack("<i", self.srid if self.srid is not None else 0))
            for v in env:
                self.parts.append(struct.pack("<d", v))
            self.parts.append(b"\x7c")
            self.first_header = False
        else:
            self.parts.append(b"\x69")
        self.parts.append(struct.pack("<I", self._type_id(base_type)))

    # --- coordinate and body writers -----------------------------------

    def coord(self, c) -> None:
        x = c[0]
        y = c[1]
        self.parts.append(struct.pack("<dd", x, y))
        if self.has_z:
            z = c[2] if len(c) > 2 and c[2] is not None else 0.0
            self.parts.append(struct.pack("<d", z))
        if self.has_m:
            m = c[3] if len(c) > 3 and c[3] is not None else 0.0
            self.parts.append(struct.pack("<d", m))

    def count(self, n: int) -> None:
        self.parts.append(struct.pack("<I", n))


def encode(geom: Geom, dialect: str = DIALECT_EWKB,
           srid: Optional[int] = None, envelope=None) -> bytes:
    """Encode a :class:`Geom` to WKB in the given dialect (LE byte order).

    ``srid``/``envelope`` default to the values carried on the geometry.
    """
    w = _Writer(dialect, geom.has_z, geom.has_m,
                srid if srid is not None else geom.srid,
                envelope if envelope is not None else geom.envelope)
    _encode_body(w, geom)
    w.footer()
    return b"".join(w.parts)


_NAN = float("nan")


def _encode_body(w: _Writer, g: Geom) -> None:
    t = g.kind
    if t == POINT:
        w.header(POINT)
        if g.data is None:
            width = 2 + (1 if w.has_z else 0) + (1 if w.has_m else 0)
            w.coord((_NAN,) * max(width, 4))
        else:
            w.coord(g.data)
    elif t in (LINESTRING, CIRCULARSTRING):
        w.header(t)
        w.count(len(g.data))
        for c in g.data:
            w.coord(c)
    elif t in (POLYGON, TRIANGLE):
        w.header(t)
        w.count(len(g.data))
        for ring in g.data:
            w.count(len(ring))
            for c in ring:
                w.coord(c)
    elif t == MULTIPOINT:
        w.header(MULTIPOINT)
        w.count(len(g.data))
        for c in g.data:
            w.header(POINT)
            if c is None:
                w.coord((_NAN, _NAN, _NAN, _NAN))
            else:
                w.coord(c)
    elif t == MULTILINESTRING:
        w.header(MULTILINESTRING)
        w.count(len(g.data))
        for line in g.data:
            w.header(LINESTRING)
            w.count(len(line))
            for c in line:
                w.coord(c)
    elif t in (MULTIPOLYGON, POLYHEDRALSURFACE, TIN):
        w.header(t)
        w.count(len(g.data))
        child = TRIANGLE if t == TIN else POLYGON
        for rings in g.data:
            w.header(child)
            w.count(len(rings))
            for ring in rings:
                w.count(len(ring))
                for c in ring:
                    w.coord(c)
    elif t in (COMPOUNDCURVE, CURVEPOLYGON, MULTICURVE, MULTISURFACE,
               GEOMETRYCOLLECTION):
        w.header(t)
        w.count(len(g.data))
        for member in g.data:
            _encode_body(w, member)
    else:
        raise WkbError(f"unsupported geometry type {t}")
