"""ESRI Shapefile (.shp) reader — parity with geozero/src/shp.

Semantics mirrored from the reference reader:

- header: 100 bytes (header.rs) — file code 9994 BE, file length BE in
  16-bit words, version + shape type LE, bbox LE f64.
- records: (record number BE, content length BE in 16-bit words) then
  shape type LE i32 + type-specific body (shp_reader.rs:36-125).
- PointZ carries M only when the record has room for it; multipart M
  blocks are detected by record size (shp_reader.rs:85-95, :230-243).
- Polyline ALWAYS emits MultiLineString; Polygon emits MultiPolygon
  with parts grouped by ring winding: the first part and every
  clockwise part (area >= 0 under the reference's ordering sum,
  shp_reader.rs:420-432) start a new polygon, counter-clockwise parts
  are holes of the preceding one (detect_polys, shp_reader.rs:277-289).
- NullShape records decode to None (skipped features).
- Multipatch is not processed (reference TODO, shp_reader.rs:205-214).

``encode`` is a minimal writer for the inverse path (the reference has
no shp writer; ours exists so synthetic fixtures and round-trips can be
generated without external tooling).
"""

from __future__ import annotations

import struct

from .model import MULTILINESTRING, MULTIPOINT, MULTIPOLYGON, POINT, Geom

FILE_CODE = 9994
HEADER_SIZE = 100

SHP_NULL = 0
SHP_POINT = 1
SHP_POLYLINE = 3
SHP_POLYGON = 5
SHP_MULTIPOINT = 8
SHP_POINT_Z = 11
SHP_POLYLINE_Z = 13
SHP_POLYGON_Z = 15
SHP_MULTIPOINT_Z = 18
SHP_POINT_M = 21
SHP_POLYLINE_M = 23
SHP_POLYGON_M = 25
SHP_MULTIPOINT_M = 28
SHP_MULTIPATCH = 31

SHAPE_TYPE_NAMES = {
    SHP_NULL: "NullShape", SHP_POINT: "Point", SHP_POLYLINE: "Polyline",
    SHP_POLYGON: "Polygon", SHP_MULTIPOINT: "Multipoint",
    SHP_POINT_Z: "PointZ", SHP_POLYLINE_Z: "PolylineZ",
    SHP_POLYGON_Z: "PolygonZ", SHP_MULTIPOINT_Z: "MultipointZ",
    SHP_POINT_M: "PointM", SHP_POLYLINE_M: "PolylineM",
    SHP_POLYGON_M: "PolygonM", SHP_MULTIPOINT_M: "MultipointM",
    SHP_MULTIPATCH: "Multipatch",
}


class ShpError(ValueError):
    pass


def read_header(buf: bytes) -> dict:
    """Parse the 100-byte file header (header.rs)."""
    if len(buf) < HEADER_SIZE:
        raise ShpError("truncated shapefile header")
    (code,) = struct.unpack_from(">i", buf, 0)
    if code != FILE_CODE:
        raise ShpError(f"bad file code {code}")
    (file_length,) = struct.unpack_from(">i", buf, 24)
    version, shape_type = struct.unpack_from("<ii", buf, 28)
    bbox = struct.unpack_from("<4d", buf, 36)
    zr = struct.unpack_from("<2d", buf, 68)
    mr = struct.unpack_from("<2d", buf, 84)
    if shape_type not in SHAPE_TYPE_NAMES:
        raise ShpError(f"unknown shape type {shape_type}")
    return {"file_length": file_length, "version": version,
            "shape_type": shape_type,
            "shape_type_name": SHAPE_TYPE_NAMES[shape_type],
            "bbox": list(bbox), "z_range": list(zr), "m_range": list(mr)}


def _read_point(body: bytes, stype: int) -> Geom:
    has_z = stype == SHP_POINT_Z
    has_m = stype == SHP_POINT_M or (has_z and len(body) == 4 * 8)
    dims = 2 + (1 if has_z else 0) + (1 if has_m else 0)
    if len(body) != dims * 8:
        raise ShpError("invalid point record size")
    vals = struct.unpack_from(f"<{dims}d", body, 0)
    if has_z:
        coord = tuple(vals[:dims])
    elif has_m:
        coord = (vals[0], vals[1], None, vals[2])
    else:
        coord = (vals[0], vals[1])
    return Geom(POINT, coord, has_z=has_z, has_m=has_m)


def _dim_block_size(n: int) -> int:
    return 2 * 8 + n * 8  # range + values (shp_reader.rs:366-369)


def _read_multipoint(body: bytes, stype: int) -> Geom:
    n = struct.unpack_from("<i", body, 32)[0]
    base = 4 * 8 + 4 + 16 * n
    has_z = stype == SHP_MULTIPOINT_Z
    size = base + (_dim_block_size(n) if has_z else 0)
    has_m = len(body) == size + _dim_block_size(n)
    if has_m:
        size += _dim_block_size(n)
    if len(body) != size:
        raise ShpError("invalid multipoint record size")
    xy = struct.unpack_from(f"<{2 * n}d", body, 36)
    pos = 36 + 16 * n
    zs = ms = None
    if has_z:
        zs = struct.unpack_from(f"<{n}d", body, pos + 16)
        pos += _dim_block_size(n)
    if has_m:
        ms = struct.unpack_from(f"<{n}d", body, pos + 16)
    coords = []
    for i in range(n):
        c = [xy[2 * i], xy[2 * i + 1]]
        if has_z:
            c.append(zs[i])
        elif has_m:
            c.append(None)
        if has_m:
            c.append(ms[i])
        coords.append(tuple(c))
    return Geom(MULTIPOINT, coords, has_z=has_z, has_m=has_m)


def _ring_is_outer(ring) -> bool:
    """shp_reader.rs:420-432: sum((x2-x1)*(y2+y1))/2 >= 0 -> outer
    (shapefile outer rings are clockwise)."""
    area = 0.0
    for i in range(len(ring) - 1):
        area += (ring[i + 1][0] - ring[i][0]) * (ring[i + 1][1] + ring[i][1])
    return area / 2.0 >= 0.0


def _read_multipart(body: bytes, stype: int, as_poly: bool) -> Geom:
    num_parts, num_points = struct.unpack_from("<ii", body, 32)
    base = 4 * 8 + 4 + 4 + 4 * num_parts + 16 * num_points
    has_z = stype in (SHP_POLYLINE_Z, SHP_POLYGON_Z)
    size = base + (_dim_block_size(num_points) if has_z else 0)
    has_m = len(body) == size + _dim_block_size(num_points)
    if len(body) != size and not has_m:
        raise ShpError("invalid multipart record size")
    parts = list(struct.unpack_from(f"<{num_parts}i", body, 40))
    parts.append(num_points)
    pos = 40 + 4 * num_parts
    xy = struct.unpack_from(f"<{2 * num_points}d", body, pos)
    pos += 16 * num_points
    zs = ms = None
    if has_z:
        zs = struct.unpack_from(f"<{num_points}d", body, pos + 16)
        pos += _dim_block_size(num_points)
    if has_m:
        ms = struct.unpack_from(f"<{num_points}d", body, pos + 16)

    def coord(i):
        c = [xy[2 * i], xy[2 * i + 1]]
        if has_z:
            c.append(zs[i])
        elif has_m:
            c.append(None)
        if has_m:
            c.append(ms[i])
        return tuple(c)

    rings = [[coord(i) for i in range(parts[p], parts[p + 1])]
             for p in range(num_parts)]
    if not as_poly:
        return Geom(MULTILINESTRING, rings, has_z=has_z, has_m=has_m)
    # detect_polys: first part and every outer-ordered part start a
    # new polygon; following inner-ordered parts are its holes
    polys: list[list] = []
    for idx, ring in enumerate(rings):
        if idx == 0 or _ring_is_outer(ring):
            polys.append([ring])
        else:
            polys[-1].append(ring)
    return Geom(MULTIPOLYGON, polys, has_z=has_z, has_m=has_m)


def _read_shape(body: bytes) -> Geom | None:
    stype = struct.unpack_from("<i", body, 0)[0]
    rec = body[4:]
    if stype == SHP_NULL:
        return None
    if stype in (SHP_POINT, SHP_POINT_M, SHP_POINT_Z):
        return _read_point(rec, stype)
    if stype in (SHP_MULTIPOINT, SHP_MULTIPOINT_M, SHP_MULTIPOINT_Z):
        return _read_multipoint(rec, stype)
    if stype in (SHP_POLYLINE, SHP_POLYLINE_M, SHP_POLYLINE_Z):
        return _read_multipart(rec, stype, as_poly=False)
    if stype in (SHP_POLYGON, SHP_POLYGON_M, SHP_POLYGON_Z):
        return _read_multipart(rec, stype, as_poly=True)
    if stype == SHP_MULTIPATCH:
        return None  # reference TODO: content skipped
    raise ShpError(f"unknown shape type {stype}")


def decode_records(buf: bytes) -> list[tuple[int, Geom | None]]:
    """Whole .shp file -> [(record_number, Geom|None), ...]: the header,
    then the record run it declares (the one record walker,
    ``decode_record_run``, shared with the .shx split scan)."""
    end = read_header(buf)["file_length"] * 2
    if end > len(buf):
        raise ShpError("file length beyond buffer")
    return decode_record_run(buf[HEADER_SIZE:end])


# ---------------------------------------------------------------------------
# minimal writer (fixture generation / roundtrip only)
# ---------------------------------------------------------------------------

def encode(geoms: list[Geom]) -> bytes:
    """Encode XY Points as a Point shapefile (fixtures/roundtrips)."""
    recs = bytearray()
    xs, ys = [], []
    for i, g in enumerate(geoms, start=1):
        if g.kind != POINT:
            raise ShpError("encode writes Point shapefiles only")
        x, y = g.data[0], g.data[1]
        xs.append(x)
        ys.append(y)
        body = struct.pack("<idd", SHP_POINT, x, y)
        recs += struct.pack(">ii", i, len(body) // 2)
        recs += body
    total_words = (HEADER_SIZE + len(recs)) // 2
    hdr = bytearray(HEADER_SIZE)
    struct.pack_into(">i", hdr, 0, FILE_CODE)
    struct.pack_into(">i", hdr, 24, total_words)
    struct.pack_into("<ii", hdr, 28, 1000, SHP_POINT)
    struct.pack_into("<4d", hdr, 36,
                     min(xs) if xs else 0.0, min(ys) if ys else 0.0,
                     max(xs) if xs else 0.0, max(ys) if ys else 0.0)
    return bytes(hdr) + bytes(recs)


# ---------------------------------------------------------------------------
# .shx sidecar index (reference: geozero/src/shp/shx_reader.rs:17-31,
# reader.rs:209-221) — 100-byte header identical to .shp, then one
# big-endian (offset_words, content_words) pair per record.
# ---------------------------------------------------------------------------

def read_shx(buf: bytes) -> list[tuple[int, int]]:
    """.shx bytes -> [(record_byte_offset, record_byte_len), ...].

    Offsets/lengths are stored in 16-bit words; the returned byte
    length INCLUDES the 8-byte record header, so offset + len is the
    start of the next record — contiguous runs concatenate exactly."""
    hdr = read_header(buf)
    n = (hdr["file_length"] * 2 - HEADER_SIZE) // 8
    out = []
    for i in range(n):
        off, rsize = struct.unpack_from(">ii", buf, HEADER_SIZE + 8 * i)
        out.append((off * 2, rsize * 2 + 8))
    return out


def decode_record_run(buf: bytes) -> list[tuple[int, Geom | None]]:
    """Decode a HEADERLESS run of contiguous records (a byte slice of a
    .shp starting at a record boundary, as carved out by read_shx)."""
    out = []
    pos = 0
    while pos + 8 <= len(buf):
        recno, rsize = struct.unpack_from(">ii", buf, pos)
        pos += 8
        body = buf[pos:pos + rsize * 2]
        if len(body) != rsize * 2:
            raise ShpError("truncated record body in run")
        out.append((recno, _read_shape(body)))
        pos += rsize * 2
    if pos != len(buf):
        raise ShpError("trailing bytes after last record in run")
    return out


def shx_of(shp_buf: bytes) -> bytes:
    """Build the .shx sidecar for a .shp buffer (fixture generation;
    same layout the reference's writer emits)."""
    hdr = read_header(shp_buf)
    end = hdr["file_length"] * 2
    recs = bytearray()
    pos = HEADER_SIZE
    while pos < end:
        _, rsize = struct.unpack_from(">ii", shp_buf, pos)
        recs += struct.pack(">ii", pos // 2, rsize)
        pos += 8 + rsize * 2
    out = bytearray(shp_buf[:HEADER_SIZE])
    struct.pack_into(">i", out, 24, (HEADER_SIZE + len(recs)) // 2)
    return bytes(out) + bytes(recs)
