"""FlatGeobuf (.fgb) reader — header, packed Hilbert R-tree, features.

The reference's flagship format: its README demo and fastest benchmark
both read FlatGeobuf with bbox pushdown through the packed R-tree index
(geozero README.md:88-95; geozero-bench/benches/geobench.rs:23-38 and
:330-345 — countries.fgb, 179 features, bbox (8.8,47.2,9.5,55.3) -> 6).
The binary layout implemented here is the PUBLIC FlatGeobuf spec
(flatgeobuf.org — magic + FlatBuffers header + packed R-tree + sized
FlatBuffers feature records); this module hand-rolls the small subset
of FlatBuffers table decoding the format needs (no external deps).

File layout:

    bytes 0..8   magic  66 67 62 03 66 67 62 00  ("fgb", major=3)
    u32 header_len, FlatBuffers Header table
    optional packed Hilbert R-tree (40-byte nodes, root level first)
    per feature: u32 len, FlatBuffers Feature table

Decoding targets the kernel geometry model (model.Geom), so everything
downstream (WKB/WKT/GeoJSON writers, the Spark struct) is shared. The
R-tree walk and the feature loop live in fgbremote, over a
``read(offset, size)`` source; ``iter_features`` runs them over a buffer.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .model import (GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING,
                    MULTIPOINT, MULTIPOLYGON, POINT, POLYGON, Geom)

MAGIC = b"fgb\x03fgb"

# FlatGeobuf GeometryType -> OGC kind (subset; 0 = Unknown/mixed)
_GEOM_TYPES = {
    1: POINT, 2: LINESTRING, 3: POLYGON, 4: MULTIPOINT,
    5: MULTILINESTRING, 6: MULTIPOLYGON, 7: GEOMETRYCOLLECTION,
}

# ColumnType enum (header.fbs)
CT_BYTE, CT_UBYTE, CT_BOOL, CT_SHORT, CT_USHORT, CT_INT, CT_UINT, \
    CT_LONG, CT_ULONG, CT_FLOAT, CT_DOUBLE, CT_STRING, CT_JSON, \
    CT_DATETIME, CT_BINARY = range(15)

_SCALAR_FMT = {
    CT_BYTE: ("<b", 1), CT_UBYTE: ("<B", 1), CT_BOOL: ("<B", 1),
    CT_SHORT: ("<h", 2), CT_USHORT: ("<H", 2), CT_INT: ("<i", 4),
    CT_UINT: ("<I", 4), CT_LONG: ("<q", 8), CT_ULONG: ("<Q", 8),
    CT_FLOAT: ("<f", 4), CT_DOUBLE: ("<d", 8),
}


class FgbError(ValueError):
    pass


# --------------------------------------------------------------------------
# minimal FlatBuffers table access
# --------------------------------------------------------------------------

def _u16(b, p):
    return struct.unpack_from("<H", b, p)[0]


def _u32(b, p):
    return struct.unpack_from("<I", b, p)[0]


def _i32(b, p):
    return struct.unpack_from("<i", b, p)[0]


class _Table:
    """A FlatBuffers table view: ``pos`` is the table start within
    ``buf``; the signed soffset at pos locates the vtable, whose u16
    slots give per-field offsets (0 = absent -> default)."""

    __slots__ = ("buf", "pos", "vt", "vt_len")

    def __init__(self, buf: bytes, pos: int):
        self.buf = buf
        self.pos = pos
        self.vt = pos - _i32(buf, pos)
        self.vt_len = _u16(buf, self.vt)

    def _field(self, idx: int) -> int:
        slot = 4 + 2 * idx
        if slot + 2 > self.vt_len:
            return 0
        rel = _u16(self.buf, self.vt + slot)
        return self.pos + rel if rel else 0

    def scalar(self, idx: int, fmt: str, default):
        p = self._field(idx)
        if not p:
            return default
        return struct.unpack_from(fmt, self.buf, p)[0]

    def indirect(self, idx: int) -> int:
        """Position of a sub-object (table/vector/string); 0 if absent."""
        p = self._field(idx)
        if not p:
            return 0
        return p + _u32(self.buf, p)

    def string(self, idx: int):
        p = self.indirect(idx)
        if not p:
            return None
        n = _u32(self.buf, p)
        return self.buf[p + 4:p + 4 + n].decode("utf-8")

    def vector(self, idx: int):
        """(elements_pos, length) of a vector; (0, 0) if absent."""
        p = self.indirect(idx)
        if not p:
            return 0, 0
        return p + 4, _u32(self.buf, p)

    def vector_f64(self, idx: int):
        p, n = self.vector(idx)
        if not n:
            return []
        return list(struct.unpack_from(f"<{n}d", self.buf, p))

    def vector_u32(self, idx: int):
        p, n = self.vector(idx)
        if not n:
            return []
        return list(struct.unpack_from(f"<{n}I", self.buf, p))

    def vector_tables(self, idx: int):
        p, n = self.vector(idx)
        out = []
        for i in range(n):
            ep = p + 4 * i
            out.append(_Table(self.buf, ep + _u32(self.buf, ep)))
        return out


def _root(buf: bytes, start: int = 0) -> _Table:
    return _Table(buf, start + _u32(buf, start))


# --------------------------------------------------------------------------
# header / index
# --------------------------------------------------------------------------

@dataclass
class FgbInfo:
    name: str | None
    geometry_type: int          # FlatGeobuf enum value (0 = unknown)
    has_z: bool
    has_m: bool
    envelope: list
    columns: list               # [(name, ColumnType)]
    features_count: int
    index_node_size: int
    srid: int | None
    index_pos: int              # byte offset of the R-tree (== feature
    feature_pos: int            # start when there is no index)


def read_info(buf: bytes) -> FgbInfo:
    if len(buf) < 12 or buf[:7] != MAGIC:
        raise FgbError("not a FlatGeobuf file (bad magic)")
    hlen = _u32(buf, 8)
    if 12 + hlen > len(buf):
        raise FgbError("truncated header")
    h = _root(buf, 12)
    columns = [(c.string(0) or "", c.scalar(1, "<B", 0))
               for c in h.vector_tables(7)]
    crs = h.indirect(10)
    srid = None
    if crs:
        code = _Table(buf, crs).scalar(1, "<i", 0)
        srid = code or None
    count = h.scalar(8, "<Q", 0)
    node_size = h.scalar(9, "<H", 16)
    index_pos = 12 + hlen
    index_bytes = (_rtree_num_nodes(count, node_size) * 40
                   if node_size > 0 and count > 0 else 0)
    return FgbInfo(
        name=h.string(0),
        geometry_type=h.scalar(2, "<B", 0),
        has_z=bool(h.scalar(3, "<B", 0)),
        has_m=bool(h.scalar(4, "<B", 0)),
        envelope=h.vector_f64(1),
        columns=columns,
        features_count=count,
        index_node_size=node_size,
        srid=srid,
        index_pos=index_pos,
        feature_pos=index_pos + index_bytes,
    )


def _rtree_level_sizes(num_items: int, node_size: int) -> list[int]:
    """Nodes per level bottom-up (leaves first), flatbush layout."""
    if node_size < 2:
        # spec minimum; a crafted/buggy node_size of 1 would loop
        # forever in the level reduction below
        raise FgbError(f"invalid R-tree node size {node_size}")
    sizes = [num_items]
    n = num_items
    while n != 1:
        n = (n + node_size - 1) // node_size
        sizes.append(n)
    return sizes


def _rtree_num_nodes(num_items: int, node_size: int) -> int:
    return sum(_rtree_level_sizes(num_items, node_size))


# --------------------------------------------------------------------------
# feature decode
# --------------------------------------------------------------------------

def _coords_slices(xy, ends):
    """Split the flat xy list into [list[Coord]] by ``ends`` (exclusive
    coordinate-pair end indices); one run when ends is absent."""
    pts = [(xy[i], xy[i + 1]) for i in range(0, len(xy), 2)]
    if not ends:
        return [pts]
    out, s = [], 0
    for e in ends:
        out.append(pts[s:e])
        s = e
    return out


def _decode_geometry(g: _Table, type_hint: int) -> Geom | None:
    gtype = g.scalar(6, "<B", 0) or type_hint
    kind = _GEOM_TYPES.get(gtype)
    if kind is None:
        raise FgbError(f"unsupported FlatGeobuf geometry type {gtype}")
    xy = g.vector_f64(1)
    ends = g.vector_u32(0)
    parts = g.vector_tables(7)
    if kind == POINT:
        if not xy:
            return Geom(POINT, None)
        return Geom(POINT, (xy[0], xy[1]))
    if kind == LINESTRING:
        return Geom(LINESTRING, _coords_slices(xy, None)[0])
    if kind == POLYGON:
        return Geom(POLYGON, _coords_slices(xy, ends))
    if kind == MULTIPOINT:
        return Geom(MULTIPOINT, _coords_slices(xy, None)[0])
    if kind == MULTILINESTRING:
        return Geom(MULTILINESTRING, _coords_slices(xy, ends))
    if kind == MULTIPOLYGON:
        if parts:
            polys = [_decode_geometry(p, 3).data for p in parts]
        else:
            polys = [_coords_slices(xy, ends)]
        return Geom(MULTIPOLYGON, polys)
    # GeometryCollection
    return Geom(GEOMETRYCOLLECTION,
                [_decode_geometry(p, 0) for p in parts])


def _decode_properties(buf_props: bytes, columns) -> dict:
    out = {}
    p = 0
    n = len(buf_props)
    while p + 2 <= n:
        ci = struct.unpack_from("<H", buf_props, p)[0]
        p += 2
        name, ctype = columns[ci]
        if ctype in _SCALAR_FMT:
            fmt, w = _SCALAR_FMT[ctype]
            v = struct.unpack_from(fmt, buf_props, p)[0]
            if ctype == CT_BOOL:
                v = bool(v)
            p += w
        elif ctype in (CT_STRING, CT_JSON, CT_DATETIME):
            ln = struct.unpack_from("<I", buf_props, p)[0]
            v = buf_props[p + 4:p + 4 + ln].decode("utf-8")
            p += 4 + ln
        elif ctype == CT_BINARY:
            ln = struct.unpack_from("<I", buf_props, p)[0]
            v = buf_props[p + 4:p + 4 + ln]
            p += 4 + ln
        else:
            raise FgbError(f"unsupported column type {ctype}")
        out[name] = v
    return out


def decode_feature(buf: bytes, pos: int, info: FgbInfo):
    """Decode the sized feature record at absolute ``pos``; returns
    (next_pos, Geom | None, props dict)."""
    if pos + 4 > len(buf):
        raise FgbError("truncated feature length")
    flen = _u32(buf, pos)
    end = pos + 4 + flen
    if end > len(buf):
        raise FgbError("truncated feature body")
    f = _root(buf, pos + 4)
    gpos = f.indirect(0)
    geom = None
    if gpos:
        geom = _decode_geometry(_Table(buf, gpos), info.geometry_type)
        if geom is not None:
            geom.srid = info.srid
    pp, pn = f.vector(1)
    # the spec allows a per-feature columns vector (field 2) that
    # overrides the header schema (heterogeneous feature schemas)
    fcols = [(c.string(0) or "", c.scalar(1, "<B", 0))
             for c in f.vector_tables(2)]
    props = (_decode_properties(bytes(buf[pp:pp + pn]),
                                fcols if fcols else info.columns)
             if pn else {})
    return end, geom, props


def iter_features(buf: bytes, bbox: tuple | None = None):
    """Yield (Geom | None, props) from an in-memory file — full scan, or
    an index-pruned scan when ``bbox=(minx,miny,maxx,maxy)`` is given
    (the reference's select_bbox / select_all split). The buffer is one
    more ``read(offset, size)`` source of the range scan
    (fgbremote.iter_features_ranged), so buffers, local files and HTTP
    share one R-tree walk and one feature loop."""
    from . import fgbremote
    return fgbremote.iter_features_ranged(
        lambda off, n: buf[off:off + n], bbox)
