"""FlatGeobuf (.fgb) writer — header, packed Hilbert R-tree, features.

Counterpart of kernel/fgb.py, closing the reference's one remaining
one-directional format (geozero-cli/src/main.rs:161-166 FgbWriter; sink
chosen by dest extension at main.rs:155-175). Layout follows the PUBLIC
FlatGeobuf spec (flatgeobuf.org): magic + FlatBuffers Header + packed
Hilbert R-tree (40-byte nodes, root level first) + sized FlatBuffers
feature records. The FlatBuffers encoding is hand-rolled (prepend-style
builder, the standard back-to-front algorithm) — only the table/vector/
string subset the format needs, mirroring the hand-rolled decoder.

Parity pin (tests/test_fgb.py): features decoded from the reference's
countries.fgb are re-encoded here and re-read with kernel/fgb.py —
geometry + property equality, and index search agreement on the
geobench bbox (geozero-bench/benches/geobench.rs:330-345).

Feature order in the file is the Hilbert sort of envelope centers
(flatbush layout), as the spec requires for an indexed file. Files
containing features without a geometry envelope are written WITHOUT a
spatial index (index_node_size=0) — a leaf node needs an envelope, and
inventing one would turn index searches into wrong answers; the reader
falls back to a filtered sequential scan for bbox queries on such
files.
"""

from __future__ import annotations

import struct

from . import bounds as kbounds
from .fgb import (CT_BINARY, CT_BOOL, CT_DATETIME, CT_DOUBLE, CT_JSON,
                  CT_LONG, CT_STRING, MAGIC, FgbError,
                  _rtree_level_sizes, _SCALAR_FMT)
from .model import (GEOMETRYCOLLECTION, LINESTRING, MULTILINESTRING,
                    MULTIPOINT, MULTIPOLYGON, POINT, POLYGON, Geom)

# OGC kind -> FlatGeobuf GeometryType enum (same numbering, 1..7)
_FGB_TYPES = {POINT: 1, LINESTRING: 2, POLYGON: 3, MULTIPOINT: 4,
              MULTILINESTRING: 5, MULTIPOLYGON: 6,
              GEOMETRYCOLLECTION: 7}

_KINDS = {"u8": ("<B", 1), "u16": ("<H", 2), "u32": ("<I", 4),
          "u64": ("<Q", 8), "i32": ("<i", 4), "f64": ("<d", 8)}


class _Builder:
    """Minimal FlatBuffers builder. The buffer is built back-to-front
    (prepends); an object's handle is its END-OFFSET — the byte
    distance from the object's start to the buffer end — which stays
    valid as the front grows. uoffset fields store
    (field end-offset) - (target end-offset), exactly what the
    reader's ``p + u32(buf, p)`` indirection expects."""

    def __init__(self):
        self.buf = bytearray()

    def _prep(self, size: int, additional: int = 0) -> None:
        pad = -(len(self.buf) + additional) % size
        if pad:
            self.buf[:0] = bytes(pad)

    def push_vector(self, fmt_char: str, values, elem_size: int) -> int:
        n = len(values)
        self._prep(4, elem_size * n)
        self._prep(elem_size, elem_size * n)
        if n:
            self.buf[:0] = struct.pack(f"<{n}{fmt_char}", *values)
        self.buf[:0] = struct.pack("<I", n)
        return len(self.buf)

    def push_bytes(self, data: bytes) -> int:
        """[ubyte] vector."""
        self._prep(4, len(data))
        self.buf[:0] = data
        self.buf[:0] = struct.pack("<I", len(data))
        return len(self.buf)

    def push_string(self, s: str) -> int:
        data = s.encode("utf-8")
        self._prep(4, len(data) + 1)
        self.buf[:0] = data + b"\x00"
        self.buf[:0] = struct.pack("<I", len(data))
        return len(self.buf)

    def push_offset_vector(self, offs) -> int:
        n = len(offs)
        self._prep(4, 4 * n)
        for o in reversed(offs):
            self.buf[:0] = struct.pack("<I", len(self.buf) + 4 - o)
        self.buf[:0] = struct.pack("<I", n)
        return len(self.buf)

    def push_table(self, fields) -> int:
        """fields: [(slot_index, kind, value)] with kind one of _KINDS
        or 'off' (value = end-offset of an already-pushed object).
        Returns the table's end-offset."""
        data_end = len(self.buf)
        locs = {}
        for idx, kind, value in sorted(fields, key=lambda t: -t[0]):
            if kind == "off":
                self._prep(4)
                self.buf[:0] = struct.pack(
                    "<I", len(self.buf) + 4 - value)
            else:
                fmt, size = _KINDS[kind]
                self._prep(size)
                self.buf[:0] = struct.pack(fmt, value)
            locs[idx] = len(self.buf)
        self._prep(4)
        self.buf[:0] = b"\x00\x00\x00\x00"  # soffset placeholder
        table_off = len(self.buf)
        nslots = (max(locs) + 1) if locs else 0
        vt = struct.pack("<HH", 4 + 2 * nslots, table_off - data_end)
        for idx in range(nslots):
            vt += struct.pack("<H", table_off - locs[idx]
                              if idx in locs else 0)
        self._prep(2)
        self.buf[:0] = vt
        vt_off = len(self.buf)
        # patch soffset: reader computes vtable pos as pos - soffset
        struct.pack_into("<i", self.buf, len(self.buf) - table_off,
                         vt_off - table_off)
        return table_off

    def finish(self, root_off: int) -> bytes:
        self._prep(4)
        self.buf[:0] = struct.pack("<I", len(self.buf) + 4 - root_off)
        return bytes(self.buf)


# --------------------------------------------------------------------------
# Hilbert curve (flatbush layout, as the FlatGeobuf spec's PackedRTree)
# --------------------------------------------------------------------------

_HILBERT_MAX = (1 << 16) - 1


def _interleave(x: int) -> int:
    x = (x | (x << 8)) & 0x00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F
    x = (x | (x << 2)) & 0x33333333
    x = (x | (x << 1)) & 0x55555555
    return x


def _hilbert(x: int, y: int) -> int:
    """16-bit (x, y) -> 32-bit Hilbert d (public flatbush algorithm)."""
    a = x ^ y
    b = 0xFFFF ^ a
    c = 0xFFFF ^ (x | y)
    d = x & (y ^ 0xFFFF)
    aa = a | (b >> 1)
    bb = (a >> 1) ^ a
    cc = ((c >> 1) ^ (b & (d >> 1))) ^ c
    dd = ((a & (c >> 1)) ^ (d >> 1)) ^ d
    a, b, c, d = aa, bb, cc, dd
    aa = (a & (a >> 2)) ^ (b & (b >> 2))
    bb = (a & (b >> 2)) ^ (b & ((a ^ b) >> 2))
    cc = c ^ ((a & (c >> 2)) ^ (b & (d >> 2)))
    dd = d ^ ((b & (c >> 2)) ^ ((a ^ b) & (d >> 2)))
    a, b, c, d = aa, bb, cc, dd
    aa = (a & (a >> 4)) ^ (b & (b >> 4))
    bb = (a & (b >> 4)) ^ (b & ((a ^ b) >> 4))
    cc = c ^ ((a & (c >> 4)) ^ (b & (d >> 4)))
    dd = d ^ ((b & (c >> 4)) ^ ((a ^ b) & (d >> 4)))
    a, b, c, d = aa, bb, cc, dd
    cc = c ^ ((a & (c >> 8)) ^ (b & (d >> 8)))
    dd = d ^ ((b & (c >> 8)) ^ ((a ^ b) & (d >> 8)))
    a = cc ^ (cc >> 1)
    b = dd ^ (dd >> 1)
    i0 = x ^ y
    i1 = b | (0xFFFF ^ (i0 | a))
    return ((_interleave(i1) << 1) | _interleave(i0)) & 0xFFFFFFFF


# --------------------------------------------------------------------------
# geometry / properties / feature encode
# --------------------------------------------------------------------------

def _flat_xy(runs):
    xy = []
    for run in runs:
        for c in run:
            xy.append(float(c[0]))
            xy.append(float(c[1]))
    return xy


def _push_geometry(b: _Builder, g: Geom) -> int:
    gtype = _FGB_TYPES.get(g.kind)
    if gtype is None:
        raise FgbError(
            f"FlatGeobuf cannot encode geometry kind {g.kind}")
    fields = [(6, "u8", gtype)]
    if g.kind == POINT:
        if g.data is not None:
            fields.append((1, "off", b.push_vector(
                "d", [float(g.data[0]), float(g.data[1])], 8)))
    elif g.kind in (LINESTRING, MULTIPOINT):
        fields.append((1, "off", b.push_vector(
            "d", _flat_xy([g.data]), 8)))
    elif g.kind in (POLYGON, MULTILINESTRING):
        runs = g.data
        if len(runs) > 1:
            ends, acc = [], 0
            for run in runs:
                acc += len(run)
                ends.append(acc)
            fields.append((0, "off", b.push_vector("I", ends, 4)))
        fields.append((1, "off", b.push_vector(
            "d", _flat_xy(runs), 8)))
    elif g.kind == MULTIPOLYGON:
        parts = [_push_geometry(b, Geom(POLYGON, rings))
                 for rings in g.data]
        fields.append((7, "off", b.push_offset_vector(parts)))
    else:  # GEOMETRYCOLLECTION
        parts = [_push_geometry(b, sub) for sub in g.data]
        fields.append((7, "off", b.push_offset_vector(parts)))
    return b.push_table(fields)


def _encode_properties(props: dict, columns) -> bytes:
    """Inverse of fgb._decode_properties: (u16 column index, value)
    records against the header column schema."""
    idx = {name: (i, ctype) for i, (name, ctype) in enumerate(columns)}
    out = bytearray()
    for name, v in props.items():
        if v is None:
            continue  # FlatGeobuf properties have no null encoding
        if name not in idx:
            raise FgbError(f"property {name!r} not in column schema")
        ci, ctype = idx[name]
        out += struct.pack("<H", ci)
        if ctype in _SCALAR_FMT:
            fmt, _ = _SCALAR_FMT[ctype]
            out += struct.pack(fmt, int(v) if ctype == CT_BOOL else v)
        elif ctype in (CT_STRING, CT_JSON, CT_DATETIME):
            data = str(v).encode("utf-8")
            out += struct.pack("<I", len(data)) + data
        elif ctype == CT_BINARY:
            out += struct.pack("<I", len(v)) + bytes(v)
        else:
            raise FgbError(f"unsupported column type {ctype}")
    return bytes(out)


def encode_feature(geom: Geom | None, props: dict, columns) -> bytes:
    """One sized feature record: u32 len + FlatBuffers Feature table."""
    b = _Builder()
    fields = []
    pbytes = _encode_properties(props, columns) if props else b""
    if pbytes:
        fields.append((1, "off", b.push_bytes(pbytes)))
    if geom is not None:
        fields.append((0, "off", _push_geometry(b, geom)))
    body = b.finish(b.push_table(fields))
    return struct.pack("<I", len(body)) + body


def _infer_columns(features) -> list:
    cols, seen = [], {}
    for _, props in features:
        for name, v in (props or {}).items():
            if v is None:
                continue
            if isinstance(v, bool):
                ct = CT_BOOL
            elif isinstance(v, int):
                ct = CT_LONG
            elif isinstance(v, float):
                ct = CT_DOUBLE
            elif isinstance(v, (bytes, bytearray)):
                ct = CT_BINARY
            else:
                ct = CT_STRING
            if name not in seen:
                seen[name] = len(cols)
                cols.append((name, ct))
            elif cols[seen[name]][1] != ct:
                cols[seen[name]] = (name, CT_STRING)  # mixed -> string
    return cols


def _push_columns(b: _Builder, columns) -> int:
    offs = [b.push_table([(0, "off", b.push_string(name)),
                          (1, "u8", ctype)])
            for name, ctype in columns]
    return b.push_offset_vector(offs)


def encode_header(name, geometry_type: int, envelope, columns,
                  features_count: int, index_node_size: int,
                  srid) -> bytes:
    b = _Builder()
    fields = [(2, "u8", geometry_type),
              (8, "u64", features_count),
              (9, "u16", index_node_size)]
    if srid:
        fields.append((10, "off", b.push_table([(1, "i32", srid)])))
    if columns:
        fields.append((7, "off", _push_columns(b, columns)))
    if envelope:
        fields.append((1, "off", b.push_vector(
            "d", [float(v) for v in envelope], 8)))
    if name is not None:
        fields.append((0, "off", b.push_string(name)))
    body = b.finish(b.push_table(fields))
    return struct.pack("<I", len(body)) + body


# --------------------------------------------------------------------------
# packed Hilbert R-tree
# --------------------------------------------------------------------------

def _build_rtree(items, node_size: int) -> bytes:
    """items: [(minx, miny, maxx, maxy, feature_byte_offset)] in FILE
    (Hilbert) order. Returns the node bytes, root level first — the
    exact layout fgbremote.search_index_ranged walks."""
    num_items = len(items)
    sizes = _rtree_level_sizes(num_items, node_size)  # leaves first
    num_nodes = sum(sizes)
    nodes = [None] * num_nodes
    # level bounds exactly as the reader computes them
    bounds, acc = [], num_nodes
    for s in sizes:
        bounds.append((acc - s, acc))
        acc -= s
    bounds.reverse()  # bounds[0] = root level
    leaf_start = num_nodes - num_items
    for i, (minx, miny, maxx, maxy, off) in enumerate(items):
        nodes[leaf_start + i] = [minx, miny, maxx, maxy, off]
    # build upward: children of level l+1 pack into level l in chunks
    # of node_size; an inner node's child pointer = first child's
    # absolute node index
    for lvl in range(len(bounds) - 2, -1, -1):
        s_l, e_l = bounds[lvl]
        s_c, e_c = bounds[lvl + 1]
        for j in range(e_l - s_l):
            c0 = s_c + j * node_size
            c1 = min(c0 + node_size, e_c)
            minx = min(nodes[c][0] for c in range(c0, c1))
            miny = min(nodes[c][1] for c in range(c0, c1))
            maxx = max(nodes[c][2] for c in range(c0, c1))
            maxy = max(nodes[c][3] for c in range(c0, c1))
            nodes[s_l + j] = [minx, miny, maxx, maxy, c0]
    return b"".join(struct.pack("<4dQ", n[0], n[1], n[2], n[3], n[4])
                    for n in nodes)


# --------------------------------------------------------------------------
# whole-file encode
# --------------------------------------------------------------------------

def encode(features, name=None, columns=None, srid=None,
           index_node_size: int = 16) -> bytes:
    """Encode [(Geom | None, props dict)] as a FlatGeobuf file.

    With ``index_node_size > 0`` (default 16, the spec default)
    features are Hilbert-sorted and a packed R-tree is emitted —
    PROVIDED every feature has an envelope; otherwise the file is
    written unindexed in input order (see module docstring). Columns
    default to types inferred from the property values. srid defaults
    to the first geometry's srid."""
    features = list(features)
    if columns is None:
        columns = _infer_columns(features)
    if srid is None:
        for g, _ in features:
            if g is not None and g.srid:
                srid = g.srid
                break
    kinds = {g.kind for g, _ in features if g is not None}
    unsupported = kinds - set(_FGB_TYPES)
    if unsupported:
        raise FgbError(
            f"FlatGeobuf cannot encode geometry kind "
            f"{sorted(unsupported)[0]}")
    gtype = _FGB_TYPES[kinds.pop()] if len(kinds) == 1 else 0
    boxes = [kbounds.bounds(g) if g is not None else None
             for g, _ in features]
    env = None
    have = [bb for bb in boxes if bb is not None]
    if have:
        env = [min(b[0] for b in have), min(b[1] for b in have),
               max(b[2] for b in have), max(b[3] for b in have)]
    indexed = (index_node_size > 0 and features
               and all(bb is not None for bb in boxes))
    if indexed:
        minx, miny, maxx, maxy = env
        w = (maxx - minx) or 1.0
        h = (maxy - miny) or 1.0
        order = sorted(range(len(features)), key=lambda i: _hilbert(
            int(_HILBERT_MAX * (((boxes[i][0] + boxes[i][2]) / 2
                                 - minx) / w)),
            int(_HILBERT_MAX * (((boxes[i][1] + boxes[i][3]) / 2
                                 - miny) / h))))
    else:
        index_node_size = 0
        order = range(len(features))
    recs, items, off = [], [], 0
    for i in order:
        rec = encode_feature(features[i][0], features[i][1], columns)
        recs.append(rec)
        if indexed:
            bb = boxes[i]
            items.append((bb[0], bb[1], bb[2], bb[3], off))
        off += len(rec)
    out = bytearray()
    out += MAGIC + b"\x00"
    out += encode_header(name, gtype, env, columns, len(features),
                         index_node_size, srid)
    if indexed:
        out += _build_rtree(items, index_node_size)
    for rec in recs:
        out += rec
    return bytes(out)
