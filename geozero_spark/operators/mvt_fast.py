"""Vectorized per-tile MVT encoding — byte-identical to the kernel path.

The kernel encoder (kernel/mvt.py) walks tuples per coordinate; at
millions of small features the per-feature Python dominates the tile
sink. ``encode_tile_cols`` keeps the EXACT protobuf layout (same layer/
feature framing, same command stream, same validity skips) but:

- reads each geometry lane of the tile as one Arrow array, so the
  coordinates of every feature arrive as ONE flat values buffer plus
  its list offsets (no per-feature gather),
- transforms every coordinate of a tile in ONE numpy pass
  (kernel.tiles.mvt_transform_np — mvt_writer.rs:157-173 semantics
  including the saturating Y flip), and
- varint-encodes the concatenated command stream of the whole tile in
  one batched numpy pass, slicing per-feature byte spans afterwards.

Only flat 2D features (Point/LineString/Polygon/Multi*) take this path;
a tile holding anything else (3D/measured, curved, raw WKB) returns
None and the caller encodes the whole tile with the kernel encoder, so
the output bytes never differ (the kernel encoder is the oracle in
tests/test_mvt_fast.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ..kernel import mvt as kmvt
from ..kernel import tiles as ktiles
from ..kernel.model import (LINESTRING, MULTILINESTRING, MULTIPOINT,
                            MULTIPOLYGON, POINT, POLYGON)

_FLAT_2D = (POINT, LINESTRING, POLYGON, MULTIPOINT, MULTILINESTRING,
            MULTIPOLYGON)

def varints_np(vals: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Batch-encode uint64 varints; returns (bytes, per-value byte
    lengths) — identical bytes to kernel.mvt._write_varint per value."""
    v = vals.astype(np.uint64)
    n = len(v)
    if n == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nbytes += (tmp != 0)
        tmp = tmp >> np.uint64(7)
    pos = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=pos[1:])
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    cur = v.copy()
    for j in range(int(nbytes.max())):
        active = nbytes > j
        byte = (cur[active] & np.uint64(0x7F)).astype(np.uint8)
        more = (nbytes[active] > j + 1)
        out[pos[active] + j] = byte | (more.astype(np.uint8) << 7)
        cur = cur >> np.uint64(7)
    return out.tobytes(), nbytes


# Command ints are built in plain python for small tiles and for
# multi-part features (2us vs 58us per small feature for numpy command
# builders: numpy-call overhead dominates 3-5 point geometries), and
# columnar for large tiles. varint encoding stays vectorized over the
# tile's concatenated command stream either way.


def _zz(v: int) -> int:
    # python ints sign-extend on >>, so this is exact zigzag
    return (v << 1) ^ (v >> 63)


def _run_py(cmds: list, cmd: int, xs, ys, s: int, e: int, cx: int,
            cy: int, step: int = 1):
    cmds.append((cmd & 0x7) | ((e - s if step == 1 else s - e) << 3))
    rng = range(s, e, 1) if step == 1 else range(s, e, -1)
    for i in rng:
        x, y = xs[i], ys[i]
        cmds.append(_zz(x - cx))
        cmds.append(_zz(y - cy))
        cx, cy = x, y
    return cx, cy


# below this many features the per-feature python loop beats the
# fixed cost of ~40 whole-tile numpy passes (on lines and single-ring
# polygons the columnar branch measured ~4x slower at 1 feature, ~1.5x
# at 32, break-even at 64-96 and ~3x faster at 512)
_VECTOR_MIN = 64


def _concat_aranges(reps: np.ndarray) -> np.ndarray:
    """[0..reps[0]) ++ [0..reps[1]) ++ ... as one int64 array."""
    total = int(reps.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    cum0 = np.zeros(len(reps), dtype=np.int64)
    np.cumsum(reps[:-1], out=cum0[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(cum0, reps)


def _zz_i64(v: np.ndarray) -> np.ndarray:
    return (v << 1) ^ (v >> 63)


# kind code -> flat 2D (fast-path eligible)
_IS_FLAT_2D = np.zeros(256, dtype=bool)
_IS_FLAT_2D[list(_FLAT_2D)] = True


def _lane(a):
    """One Arrow array from an Array or ChunkedArray lane."""
    if isinstance(a, pa.ChunkedArray):
        return a.chunk(0) if a.num_chunks == 1 else a.combine_chunks()
    return a


def _list_lane(arr) -> tuple[np.ndarray, np.ndarray]:
    """A list lane as (flat values, per-row start offsets of length
    n + 1), read straight from its Arrow buffers; a null row owns an
    empty segment, as Spark and pyarrow write it."""
    offs = arr.offsets.to_numpy().astype(np.int64)
    return (arr.values.to_numpy(zero_copy_only=False)[offs[0]:offs[-1]],
            offs - offs[0])


def encode_tile_cols(layer_name: str, extent: int, keys: list,
                     kind, has_z, has_m, coords, offs1, offs2, wkb,
                     left: float, bottom: float, right: float,
                     top: float, props_list: list | None = None):
    """Encode one tile from its geometry lanes, features in final
    order. ``kind``/``has_z``/``has_m``/``coords``/``offs1``/``offs2``/
    ``wkb`` are the Arrow arrays of the geometry struct's fields (one
    row per feature; a null ``kind`` is an absent feature, counted as
    skipped). ``keys`` gives each feature's id tag; ``props_list`` is
    an optional parallel list of typed property dicts replacing the
    default {"id": str(key)}.

    Returns (tile_bytes, n_features, n_skipped), or None when a row
    carries raw WKB, Z or M, or a present feature is not a flat 2D
    kind with coordinates (the caller then encodes the whole tile with
    the kernel encoder). Bytes identical to the kernel path.

    Large tiles build the command stream COLUMNAR: features are
    partitioned into point / linestring / single-ring-polygon classes
    and each class's commands, deltas and zigzags are computed in a
    handful of whole-tile numpy passes scattered into one preallocated
    int64 stream (multi-part kinds keep the per-feature builder,
    written into their slots). Small tiles keep the plain-python
    per-feature loop — the numpy fixed costs only pay off past ~64
    features."""
    kind, has_z, has_m, coords, offs1, offs2, wkb = map(
        _lane, (kind, has_z, has_m, coords, offs1, offs2, wkb))
    n_items = len(keys)
    # absent rows carry no WKB, Z or M: counts suffice
    if wkb.null_count < n_items or has_z.true_count or has_m.true_count:
        return None
    if kind.null_count:
        kind = kind.fill_null(-1)
    kinds = kind.to_numpy().astype(np.int64)
    present = kinds >= 0
    if not _IS_FLAT_2D[kinds[present]].all():
        return None
    if coords.null_count and (
            present & coords.is_null().to_numpy(zero_copy_only=False)
    ).any():
        return None
    # every row's coordinates in one buffer: a row's pairs start at
    # base[i] (absent rows hold no coords, or ones nothing reads)
    flat, cstart = _list_lane(coords)
    base = cstart[:-1] >> 1
    lens = np.diff(cstart) >> 1
    o1_vals, o1_start = _list_lane(offs1)
    o2_vals, o2_start = _list_lane(offs2)
    # ring offsets per row: a single-ring polygon has exactly two; a
    # NULL or [0] offs1 has no ring, and the python builder skips it
    n1 = np.diff(o1_start)
    arr = flat.reshape(-1, 2)
    tx, ty = ktiles.mvt_transform_np(arr[:, 0], arr[:, 1], extent,
                                     left, bottom, right, top)
    xs = tx.astype(np.int64)
    ys = ty.astype(np.int64)

    if n_items < _VECTOR_MIN:
        # plain python lists, converted once per tile
        xl, yl = xs.tolist(), ys.tolist()
        o1l, o2l = o1_vals.tolist(), o2_vals.tolist()
        s1, s2 = o1_start.tolist(), o2_start.tolist()
        kl, bl, nl = kinds.tolist(), base.tolist(), lens.tolist()
        feats = []  # (fid, props, gtype, cmd_list)
        skipped = 0
        for idx in range(n_items):
            if kl[idx] < 0:
                skipped += 1
                continue
            try:
                feats.append(_feature_cmds_py(
                    kl[idx], o1l[s1[idx]:s1[idx + 1]],
                    o2l[s2[idx]:s2[idx + 1]], idx, keys[idx], xl, yl,
                    bl[idx], nl[idx],
                    props=(None if props_list is None
                           else props_list[idx])))
            except kmvt.MvtError:
                skipped += 1
        all_cmds = np.array([c for f in feats for c in f[3]],
                            dtype=np.int64)
        metas = [(fid, props, gtype, len(cmds))
                 for fid, props, gtype, cmds in feats]
        layer = _frame_layer(layer_name, extent, metas, all_cmds)
        out = bytearray()
        kmvt._write_bytes(out, 3, layer)
        return bytes(out), len(metas), skipped

    skipped = int(n_items - present.sum())
    empty = present & (lens == 0)
    skipped += int(empty.sum())
    live = present & ~empty
    is_p = live & (kinds == POINT) & (lens == 1)
    is_l = live & (kinds == LINESTRING)
    is_g = live & (kinds == POLYGON) & (n1 == 2)
    is_py = live & ~(is_p | is_l | is_g)

    bad_l = is_l & (lens < 2)
    skipped += int(bad_l.sum())
    is_l &= ~bad_l

    # single-ring polygons: closure trim, min-size, orientation
    gi = np.nonzero(is_g)[0]
    m_full = np.zeros(n_items, dtype=np.int64)
    rev_full = np.zeros(n_items, dtype=bool)
    if len(gi):
        b = base[gi]
        n = lens[gi]
        closed = ((n >= 2) & (xs[b] == xs[b + n - 1])
                  & (ys[b] == ys[b + n - 1]))
        m = n - closed
        ok = m >= 3
        skipped += int((~ok).sum())
        is_g[gi[~ok]] = False
        gi, b, m = gi[ok], b[ok], m[ok]
        if len(gi):
            # shoelace area*2 over ring [b, b+m) per feature
            reps = m - 1
            ar = _concat_aranges(reps)
            i0 = np.repeat(b, reps) + ar
            cross = xs[i0] * ys[i0 + 1] - xs[i0 + 1] * ys[i0]
            seg0 = np.zeros(len(gi), dtype=np.int64)
            np.cumsum(reps[:-1], out=seg0[1:])
            area2 = np.add.reduceat(cross, seg0)
            area2 += xs[b + m - 1] * ys[b] - xs[b] * ys[b + m - 1]
            m_full[gi] = m
            # exterior ring must be CCW-positive; else emit reversed
            rev_full[gi] = ~(area2 > 0)

    # multi-part / unusual kinds: per-feature python builder
    py_feats: dict[int, tuple] = {}
    for idx in np.nonzero(is_py)[0]:
        try:
            i = int(idx)
            py_feats[i] = _feature_cmds_py(
                kinds[i], o1_vals[o1_start[i]:o1_start[i + 1]],
                o2_vals[o2_start[i]:o2_start[i + 1]], i, keys[i],
                xs, ys, int(base[i]), int(lens[i]),
                props=None if props_list is None else props_list[i])
        except kmvt.MvtError:
            skipped += 1
            is_py[idx] = False

    ncmds = np.zeros(n_items, dtype=np.int64)
    ncmds[is_p] = 3
    ncmds[is_l] = 2 * lens[is_l] + 2
    ncmds[is_g] = 2 * m_full[is_g] + 3
    for idx, f in py_feats.items():
        ncmds[idx] = len(f[3])
    keep = is_p | is_l | is_g | is_py
    kept_idx = np.nonzero(keep)[0]
    nc = ncmds[kept_idx]
    offs_full = np.zeros(n_items, dtype=np.int64)
    off_k = np.zeros(len(kept_idx), dtype=np.int64)
    np.cumsum(nc[:-1], out=off_k[1:])
    offs_full[kept_idx] = off_k
    cmds_all = np.zeros(int(nc.sum()), dtype=np.int64)

    pi = np.nonzero(is_p)[0]
    if len(pi):
        o, b = offs_full[pi], base[pi]
        cmds_all[o] = 9  # MoveTo count 1
        cmds_all[o + 1] = _zz_i64(xs[b])
        cmds_all[o + 2] = _zz_i64(ys[b])

    li = np.nonzero(is_l)[0]
    if len(li):
        o, b, n = offs_full[li], base[li], lens[li]
        cmds_all[o] = 9
        cmds_all[o + 1] = _zz_i64(xs[b])
        cmds_all[o + 2] = _zz_i64(ys[b])
        cmds_all[o + 3] = ((n - 1) << 3) | 2  # LineTo count n-1
        reps = n - 1
        ar = _concat_aranges(reps)
        ci = np.repeat(b, reps) + ar + 1
        slot = np.repeat(o + 4, reps) + 2 * ar
        cmds_all[slot] = _zz_i64(xs[ci] - xs[ci - 1])
        cmds_all[slot + 1] = _zz_i64(ys[ci] - ys[ci - 1])

    for reverse in (False, True):
        sub = np.nonzero(is_g & (rev_full == reverse))[0]
        if not len(sub):
            continue
        o, mm = offs_full[sub], m_full[sub]
        start = base[sub] if not reverse else base[sub] + mm - 1
        cmds_all[o] = 9
        cmds_all[o + 1] = _zz_i64(xs[start])
        cmds_all[o + 2] = _zz_i64(ys[start])
        cmds_all[o + 3] = ((mm - 1) << 3) | 2
        reps = mm - 1
        ar = _concat_aranges(reps)
        slot = np.repeat(o + 4, reps) + 2 * ar
        if not reverse:
            ci = np.repeat(start, reps) + ar + 1
            cmds_all[slot] = _zz_i64(xs[ci] - xs[ci - 1])
            cmds_all[slot + 1] = _zz_i64(ys[ci] - ys[ci - 1])
        else:
            ci = np.repeat(start, reps) - ar - 1
            cmds_all[slot] = _zz_i64(xs[ci] - xs[ci + 1])
            cmds_all[slot + 1] = _zz_i64(ys[ci] - ys[ci + 1])
        cmds_all[o + 2 * mm + 2] = 15  # ClosePath

    for idx, f in py_feats.items():
        o = int(offs_full[idx])
        cmds_all[o:o + len(f[3])] = f[3]

    # gtype follows the kind class (same mapping as _feature_cmds_py)
    kk = kinds[kept_idx]
    gtypes = np.where(
        np.isin(kk, (POINT, MULTIPOINT)), kmvt.GEOM_POINT,
        np.where(np.isin(kk, (LINESTRING, MULTILINESTRING)),
                 kmvt.GEOM_LINESTRING, kmvt.GEOM_POLYGON))
    if props_list is None:
        # every kept feature (python-built ones included) carries
        # exactly {"id": str(key)} and fid = item index, so the
        # single-key columnar framer applies
        key_strs = [str(keys[i]) for i in kept_idx.tolist()]
        layer = _frame_layer_cols(layer_name, extent,
                                  kept_idx.astype(np.int64), key_strs,
                                  gtypes, ncmds[kept_idx], cmds_all)
    else:
        # typed per-feature props: the command stream stays columnar;
        # framing goes through the general key/value-dedup framer
        # (byte-identical to the kernel encoder's tag assembly,
        # mvt_writer.rs:357-401 semantics)
        metas = [(int(i), props_list[i], int(g), int(ncmds[i]))
                 for i, g in zip(kept_idx, gtypes)]
        layer = _frame_layer(layer_name, extent, metas, cmds_all)
    out = bytearray()
    kmvt._write_bytes(out, 3, layer)
    return bytes(out), len(kept_idx), skipped


def _feature_cmds_py(kind, o1, o2, fid, key, xs, ys, base, n,
                     props=None):
    """One feature's command ints; ``o1``/``o2`` are its ring and
    polygon offsets (offs1/offs2), ``base``/``n`` its coordinate span
    in the tile's ``xs``/``ys``."""
    kind = int(kind)
    if n == 0:
        raise kmvt.MvtError("empty geometry")
    if props is None:
        props = {"id": str(key)}
    if kind in (POINT, MULTIPOINT):
        cmds: list[int] = []
        _run_py(cmds, 1, xs, ys, base, base + n, 0, 0)
        return fid, props, kmvt.GEOM_POINT, cmds
    if kind == LINESTRING:
        lines = [(base, base + n)]
    elif kind == MULTILINESTRING:
        lines = [(base + int(o1[i]), base + int(o1[i + 1]))
                 for i in range(len(o1) - 1)]
    else:
        lines = None
    if lines is not None:
        if any(e - s < 2 for s, e in lines):
            raise kmvt.MvtError("LineString with fewer than 2 coordinates")
        cmds = []
        cx = cy = 0
        for s, e in lines:
            cx, cy = _run_py(cmds, 1, xs, ys, s, s + 1, cx, cy)
            cx, cy = _run_py(cmds, 2, xs, ys, s + 1, e, cx, cy)
        return fid, props, kmvt.GEOM_LINESTRING, cmds
    # polygonal
    rings = [(base + int(o1[i]), base + int(o1[i + 1]))
             for i in range(len(o1) - 1)]
    if kind == POLYGON:
        polys = [rings]
    else:
        polys = [rings[int(o2[i]):int(o2[i + 1])]
                 for i in range(len(o2) - 1)]
    # validate + normalize first (a later bad ring skips the feature
    # before any emission — kernel parity)
    norm = []
    for rings_of in polys:
        if not rings_of:
            raise kmvt.MvtError("ring with fewer than 3 distinct coords")
        nr = []
        for ri, (s, e) in enumerate(rings_of):
            if e - s >= 2 and xs[s] == xs[e - 1] and ys[s] == ys[e - 1]:
                e -= 1
            if e - s < 3:
                raise kmvt.MvtError("ring with fewer than 3 distinct coords")
            area2 = 0
            px, py = xs[e - 1], ys[e - 1]
            for i in range(s, e):
                x, y = xs[i], ys[i]
                area2 += px * y - x * py
                px, py = x, y
            want_positive = ri == 0
            nr.append((s, e, (area2 > 0) != want_positive))
        norm.append(nr)
    cmds = []
    cx = cy = 0
    for nr in norm:
        for s, e, rev in nr:
            if not rev:
                cx, cy = _run_py(cmds, 1, xs, ys, s, s + 1, cx, cy)
                cx, cy = _run_py(cmds, 2, xs, ys, s + 1, e, cx, cy)
            else:
                cx, cy = _run_py(cmds, 1, xs, ys, e - 1, e - 2, cx, cy,
                                 step=-1)
                cx, cy = _run_py(cmds, 2, xs, ys, e - 2, s - 1, cx, cy,
                                 step=-1)
            cmds.append((7 & 0x7) | (1 << 3))
    return fid, props, kmvt.GEOM_POLYGON, cmds


def _frame_layer_cols(name: str, extent: int, fids: np.ndarray,
                      key_strs: list, gtypes: np.ndarray,
                      ncmds: np.ndarray, all_cmds: np.ndarray) -> bytes:
    """Columnar layer framing for the canonical props pattern
    (every feature carries exactly {"id": str(key)}): all varints are
    batch-encoded and the feature messages are assembled with one
    byte-gather instead of per-feature bytearray building. Byte-
    identical to _frame_layer on the same input."""
    n = len(fids)
    out = bytearray()
    kmvt._tag(out, 15, 0)
    kmvt._write_varint(out, 2)
    kmvt._write_bytes(out, 1, name.encode("utf-8"))

    # values table: first-occurrence dedup over the id strings
    vidx: dict = {}
    value_ids = np.empty(n, dtype=np.int64)
    enc_values: list[bytes] = []
    for i, s in enumerate(key_strs):
        j = vidx.get(s)
        if j is None:
            j = len(enc_values)
            vidx[s] = j
            vb = bytearray()
            kmvt._write_bytes(vb, 1, s.encode("utf-8"))
            enc_values.append(bytes(vb))
        value_ids[i] = j

    cmd_blob, cmd_nbytes = varints_np(all_cmds)
    cmd_src = np.frombuffer(cmd_blob, dtype=np.uint8)
    cmd_off = np.zeros(len(cmd_nbytes) + 1, dtype=np.int64)
    np.cumsum(cmd_nbytes, out=cmd_off[1:])
    nco = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(ncmds, out=nco[1:])
    geom_start = cmd_off[nco[:-1]]
    geom_len = cmd_off[nco[1:]] - geom_start

    fid_blob, fid_len = varints_np(fids)
    val_blob, val_len = varints_np(value_ids)
    gl_blob, gl_len = varints_np(geom_len)
    taglen_b = (1 + val_len).astype(np.uint8)  # tags = 0x00 + varint(v)
    gtype_b = gtypes.astype(np.uint8)

    body_len = ((1 + fid_len) + (3 + val_len) + 2
                + (1 + gl_len + geom_len))
    bl_blob, bl_len = varints_np(body_len)

    feat_total = 1 + bl_len + body_len
    feat_out = np.zeros(n, dtype=np.int64)
    np.cumsum(feat_total[:-1], out=feat_out[1:])
    buf = np.zeros(int(feat_total.sum()), dtype=np.uint8)

    acc = np.zeros(n, dtype=np.int64)

    def put_const(byte: int):
        nonlocal acc
        buf[feat_out + acc] = byte
        acc = acc + 1

    def put_bytes1(vals: np.ndarray):
        nonlocal acc
        buf[feat_out + acc] = vals
        acc = acc + 1

    def put_varints(blob: bytes, lens: np.ndarray):
        nonlocal acc
        if len(blob):
            idx = (np.repeat(feat_out + acc, lens)
                   + _concat_aranges(lens))
            buf[idx] = np.frombuffer(blob, dtype=np.uint8)
        acc = acc + lens

    put_const(0x12)               # layer field 2 (feature), wire 2
    put_varints(bl_blob, bl_len)  # body length
    put_const(0x08)               # field 1 (id)
    put_varints(fid_blob, fid_len)
    put_const(0x12)               # field 2 (tags), wire 2
    put_bytes1(taglen_b)          # tags byte length (always < 128)
    put_const(0x00)               # key index 0 ("id")
    put_varints(val_blob, val_len)
    put_const(0x18)               # field 3 (type)
    put_bytes1(gtype_b)           # gtype < 128
    put_const(0x22)               # field 4 (geometry), wire 2
    put_varints(gl_blob, gl_len)
    if len(cmd_src):
        idx = (np.repeat(feat_out + acc, geom_len)
               + _concat_aranges(geom_len))
        src = np.repeat(geom_start, geom_len) + _concat_aranges(geom_len)
        buf[idx] = cmd_src[src]
    out.extend(buf.tobytes())

    if n:
        kmvt._write_bytes(out, 3, b"id")
        for v in enc_values:
            kmvt._write_bytes(out, 4, v)
    kmvt._tag(out, 5, 0)
    kmvt._write_varint(out, extent)
    return bytes(out)


def _frame_layer(name: str, extent: int, metas: list,
                 all_cmds: np.ndarray) -> bytes:
    """metas: (fid, props, gtype, ncmds) per kept feature in order;
    all_cmds: the tile's whole command stream. Returns layer bytes
    identical to kernel _encode_layer framing."""
    keys: list[str] = []
    key_idx: dict[str, int] = {}
    values: list[bytes] = []
    value_idx: dict[bytes, int] = {}

    out = bytearray()
    kmvt._tag(out, 15, 0)
    kmvt._write_varint(out, 2)
    kmvt._write_bytes(out, 1, name.encode("utf-8"))

    blob, nbytes = varints_np(all_cmds)
    byte_off = np.zeros(len(nbytes) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_off[1:])

    ci = 0
    for fid, props, gtype, ncmds in metas:
        fb = bytearray()
        if fid is not None:
            kmvt._tag(fb, 1, 0)
            kmvt._write_varint(fb, fid)
        tags: list[int] = []
        for k, v in props.items():
            if k not in key_idx:
                key_idx[k] = len(keys)
                keys.append(k)
            ev = kmvt._encode_value(v)
            if ev not in value_idx:
                value_idx[ev] = len(values)
                values.append(ev)
            tags.append(key_idx[k])
            tags.append(value_idx[ev])
        if tags:
            packed = bytearray()
            for t in tags:
                kmvt._write_varint(packed, t)
            kmvt._write_bytes(fb, 2, bytes(packed))
        kmvt._tag(fb, 3, 0)
        kmvt._write_varint(fb, gtype)
        span = blob[byte_off[ci]:byte_off[ci + ncmds]]
        kmvt._write_bytes(fb, 4, span)
        ci += ncmds
        kmvt._write_bytes(out, 2, bytes(fb))

    for k in keys:
        kmvt._write_bytes(out, 3, k.encode("utf-8"))
    for v in values:
        kmvt._write_bytes(out, 4, v)
    kmvt._tag(out, 5, 0)
    kmvt._write_varint(out, extent)
    return bytes(out)

