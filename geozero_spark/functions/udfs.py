"""Arrow-batched UDFs over the pure-Python geometry kernel.

These are the Spark re-expression of geozero's fused reader->writer
event pipelines (geozero/src/api.rs:17-41): one Arrow batch replaces one
event stream, one vectorized UDF call replaces one read->process pass.
Per the north rule, NO per-row Python UDFs — everything here is an
``arrow_udf`` crossing the JVM boundary once per batch, taking and
returning pyarrow arrays. Geometry structs cross natively in both
directions: encoders read ``pylist(g)`` dicts into
``structrepr.from_struct``, decoders build ``pa.array(structs,
type=GEOM_ARROW)``; a NULL input or (under ``strict=False``) a failed
decode is a NULL struct.

Format parity lives in the kernel (tests replicate geozero's own hex
fixtures); this module is only the batching shim. Anything expressible
as a built-in Column expression (cell ids, tiles, bbox predicates) does
NOT live here — see sqlgen.py — so the UDF path is reserved for actual
codec work.
"""

from __future__ import annotations

from typing import Callable, Optional

import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType, ByteType,
                               DoubleType, IntegerType, LongType,
                               StringType, StructField, StructType)

from ..kernel import bounds as kbounds
from ..kernel import geojson as kgeojson
from ..kernel import structrepr as sr
from ..kernel import wkb as kwkb
from ..kernel import wkt as kwkt
from ..kernel.model import Geom

# matches sr.GEOMETRY_DDL; built programmatically so no SparkSession is
# needed at import time
GEOMETRY_TYPE = StructType([
    StructField("kind", ByteType()),
    StructField("srid", IntegerType()),
    StructField("has_z", BooleanType()),
    StructField("has_m", BooleanType()),
    StructField("bbox", ArrayType(DoubleType())),
    StructField("coords", ArrayType(DoubleType())),
    StructField("offs1", ArrayType(IntegerType())),
    StructField("offs2", ArrayType(IntegerType())),
    StructField("wkb", BinaryType()),
    StructField("tvals", ArrayType(DoubleType())),
    StructField("tmvals", ArrayType(LongType())),
])
GEOM_ARROW = to_arrow_type(GEOMETRY_TYPE)


def pylist(arr: pa.Array) -> list:
    """``arr.to_pylist()``, read column by column: numeric and boolean
    buffers through numpy ``tolist()``, list rows sliced out of one flat
    list. pyarrow's to_pylist builds a scalar object per nested element,
    which on 10k POINT geometry structs measured 200-335 ms against
    about 22 ms for this reader (47-68 ms for the pandas conversion it
    replaced), on a shared 4-core VM."""
    t, n = arr.type, len(arr)
    if arr.null_count == n:
        return [None] * n
    if pa.types.is_struct(t):
        names = [f.name for f in t]
        out = [dict(zip(names, vals))
               for vals in zip(*map(pylist, arr.flatten()))]
    elif pa.types.is_list(t):
        off = arr.offsets.to_numpy().tolist()
        flat = pylist(arr.values)
        out = [flat[a:b] for a, b in zip(off, off[1:])]
    elif arr.null_count == 0 and (pa.types.is_integer(t)
                                  or pa.types.is_floating(t)
                                  or pa.types.is_boolean(t)):
        return arr.to_numpy(zero_copy_only=False).tolist()
    else:
        return arr.to_pylist()
    if arr.null_count:
        valid = arr.is_valid().to_pylist()
        out = [v if ok else None for v, ok in zip(out, valid)]
    return out


def struct_columns(data: dict, t: StructType) -> pa.Array:
    """Equal-length Python lists keyed by field name -> a struct array
    of Spark type ``t`` (every row a non-NULL struct)."""
    at = to_arrow_type(t)
    return pa.StructArray.from_arrays(
        [pa.array(data[f.name], f.type) for f in at], fields=list(at))


def _decode_udf(decode: Callable[..., Geom], strict: bool = False):
    @arrow_udf(GEOMETRY_TYPE)
    def f(s: pa.Array) -> pa.Array:
        structs: list[Optional[dict]] = []
        for v in s.to_pylist():
            if v is None:
                structs.append(None)
                continue
            try:
                structs.append(sr.to_struct(decode(v)))
            except Exception:
                if strict:
                    raise
                structs.append(None)
        return pa.array(structs, type=GEOM_ARROW)

    return f


def st_geomfromwkt(strict: bool = False):
    """string -> geometry struct (wkt_reader.rs:82-89 semantics)."""
    return _decode_udf(kwkt.decode, strict=strict)


def st_geomfromgeojson(strict: bool = False):
    """GeoJSON geometry string -> struct (geojson_reader.rs:73-81)."""
    return _decode_udf(kgeojson.decode, strict=strict)


def st_geomfromwkb(dialect: str = kwkb.DIALECT_EWKB, strict: bool = False):
    """binary -> struct; dialect in wkb/ewkb/gpkg/spatialite/mysql
    (wkb_reader.rs:115-150)."""
    return _decode_udf(lambda b: kwkb.decode(b, dialect=dialect),
                       strict=strict)


def _encode_udf(encode: Callable[[Geom], object], ret):
    at = to_arrow_type(ret)

    @arrow_udf(ret)
    def f(g: pa.Array) -> pa.Array:
        geoms = [sr.from_struct(d) for d in pylist(g)]
        return pa.array([None if gm is None else encode(gm)
                         for gm in geoms], type=at)

    return f


def st_aswkt():
    """struct -> WKT string (wkt_writer.rs semantics incl. Rust f64
    Display-compatible shortest-roundtrip formatting, kernel/fmt.py)."""
    return _encode_udf(kwkt.encode, StringType())


def st_asewkt():
    return _encode_udf(
        lambda g: kwkt.encode(g, dialect="ewkt", srid=g.srid), StringType())


def st_asgeojson():
    return _encode_udf(kgeojson.encode, StringType())


def st_aswkb(dialect: str = kwkb.DIALECT_EWKB, srid: Optional[int] = None):
    def enc(g: Geom) -> bytes:
        if srid is not None:
            g.srid = srid
        return kwkb.encode(g, dialect=dialect)

    return _encode_udf(enc, BinaryType())


def st_assvg():
    """struct -> SVG path element, y axis inverted (svg/writer.rs)."""
    from ..kernel import svg as ksvg
    return _encode_udf(lambda g: ksvg.encode(g, invert_y=True),
                       StringType())


def st_npoints():
    return _encode_udf(kbounds.npoints, IntegerType())


def mvt_tile_stats(int_prop: str | None = None,
                   float_prop: str | None = None,
                   str_prop: str | None = None):
    """Decode-own-output content check for the distributed MVT sink.

    Decodes each emitted tile blob with the kernel decoder
    (kernel/mvt.decode_tile — the parity twin of geozero's mvt reader,
    geozero/src/mvt/mvt_reader.rs) and emits SQL-checkable invariants:
    decoded feature count, total vertex count (polygon rings counted
    WITHOUT the closing duplicate, mvt_writer.rs:196-204 semantics), and
    the sums of all decoded tile-space x / y coordinates. The DuckDB
    oracle reconstructs the same numbers from the tile-transform
    arithmetic (mvt_writer.rs:157-173), so the blob bytes themselves are
    content-verified end to end, not just counted.

    Optional TYPED-property checks (mvt_writer.rs:380-401 value
    mapping through the layer keys/values tables): ``int_prop`` adds
    ``prop_int_sum`` (sum of that int tag across decoded features),
    ``float_prop`` adds ``prop_float_sum`` (sum of the double tag),
    ``str_prop`` adds ``prop_chars`` (sum of the string tag's length)
    — all reconstructible in SQL when the property derives from the
    generator arithmetic.
    """
    from ..kernel import mvt as kmvt

    fields = [
        StructField("n_features", IntegerType()),
        StructField("vtx_sum", LongType()),
        StructField("sx_sum", LongType()),
        StructField("sy_sum", LongType()),
    ]
    if int_prop is not None:
        fields.append(StructField("prop_int_sum", LongType()))
    if float_prop is not None:
        fields.append(StructField("prop_float_sum", DoubleType()))
    if str_prop is not None:
        fields.append(StructField("prop_chars", LongType()))
    stats_type = StructType(fields)

    def _feature_coords(feat):
        g = feat.geometry
        if feat.geom_type == kmvt.GEOM_POINT:
            return list(g)
        if feat.geom_type == kmvt.GEOM_LINESTRING:
            return [c for line in g for c in line]
        if feat.geom_type == kmvt.GEOM_POLYGON:
            # rings are decoded closed; drop the closing duplicate so
            # counts mirror the encoder's distinct-coords rule
            return [c for poly in g for ring in poly for c in ring[:-1]]
        raise kmvt.MvtError(f"unknown geom type {feat.geom_type}")

    @arrow_udf(stats_type)
    def f(blobs: pa.Array) -> pa.Array:
        nf, vtx, sx, sy = [], [], [], []
        pis, pfs, pcs = [], [], []
        for blob in blobs.to_pylist():
            tile = kmvt.decode_tile(blob)
            feats = [ft for layer in tile.layers for ft in layer.features]
            coords = [c for ft in feats for c in _feature_coords(ft)]
            nf.append(len(feats))
            vtx.append(len(coords))
            sx.append(sum(c[0] for c in coords))
            sy.append(sum(c[1] for c in coords))
            if int_prop is not None:
                pis.append(sum(int(ft.properties[int_prop])
                               for ft in feats
                               if int_prop in ft.properties))
            if float_prop is not None:
                pfs.append(sum(float(ft.properties[float_prop])
                               for ft in feats
                               if float_prop in ft.properties))
            if str_prop is not None:
                pcs.append(sum(len(str(ft.properties[str_prop]))
                               for ft in feats
                               if str_prop in ft.properties))
        data = {"n_features": nf, "vtx_sum": vtx,
                "sx_sum": sx, "sy_sum": sy}
        if int_prop is not None:
            data["prop_int_sum"] = pis
        if float_prop is not None:
            data["prop_float_sum"] = pfs
        if str_prop is not None:
            data["prop_chars"] = pcs
        return struct_columns(data, stats_type)

    return f


def tessellate_stats():
    """Tessellator surface for the Spark layer (parity target:
    geozero/src/tessellator/mod.rs — vertex/triangle emission).

    Emits per-geometry (n_vertices, n_triangles, area2) where area2 is
    the summed doubled signed triangle area. Over integer-coordinate
    geometries (the centi-degree structs) every cross product is exact
    in doubles, so area2 is an exact integer the SQL oracle can
    reconstruct (outer ring area minus holes)."""
    from ..kernel import tessellate as ktess

    stats_type = StructType([
        StructField("n_vertices", IntegerType()),
        StructField("n_triangles", IntegerType()),
        StructField("area2", LongType()),
    ])

    @arrow_udf(stats_type)
    def f(g: pa.Array) -> pa.Array:
        nv, nt, a2 = [], [], []
        for geom in map(sr.from_struct, pylist(g)):
            if geom is None:
                nv.append(None), nt.append(None), a2.append(None)
                continue
            verts, tris = ktess.tessellate(geom)
            total = 0.0
            for (i, j, k) in tris:
                ax, ay = verts[3 * i], verts[3 * i + 1]
                bx, by = verts[3 * j], verts[3 * j + 1]
                cx, cy = verts[3 * k], verts[3 * k + 1]
                total += (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
            nv.append(len(verts) // 3)
            nt.append(len(tris))
            a2.append(int(round(total)))
        return struct_columns({"n_vertices": nv, "n_triangles": nt,
                               "area2": a2}, stats_type)

    return f


def gpx_members():
    """GPX document text -> parallel per-member arrays (kind, n_points,
    first coord x/y), member order = the reference's
    (gpx_reader.rs:26-43: waypoints, per-track MultiLineString, ONE
    all-routes MultiLineString). The parallel-array shape is the one
    q_gpx_decode's DuckDB oracle pairs with; callers arrays_zip +
    posexplode JVM-side. Whole-document decode to a GeometryCollection
    struct is st_geomfromgpx()."""
    from ..kernel import gpx as kgpx

    members_type = StructType([
        StructField("kind", ArrayType(IntegerType())),
        StructField("n_points", ArrayType(IntegerType())),
        StructField("x0", ArrayType(DoubleType())),
        StructField("y0", ArrayType(DoubleType())),
    ])

    def _first_coord(m):
        if m.kind == 1:  # POINT
            return m.data
        return m.data[0][0]  # MULTILINESTRING

    def _npoints(m):
        if m.kind == 1:
            return 1
        return sum(len(line) for line in m.data)

    @arrow_udf(members_type)
    def f(s: pa.Array) -> pa.Array:
        kinds, npts, x0s, y0s = [], [], [], []
        for txt in s.to_pylist():
            g = kgpx.decode(txt)
            kinds.append([m.kind for m in g.data])
            npts.append([_npoints(m) for m in g.data])
            x0s.append([float(_first_coord(m)[0]) for m in g.data])
            y0s.append([float(_first_coord(m)[1]) for m in g.data])
        return struct_columns({"kind": kinds, "n_points": npts,
                               "x0": x0s, "y0": y0s}, members_type)

    return f


def st_geomfromgpx(strict: bool = False):
    """GPX text -> GeometryCollection struct (gpx_reader.rs parity)."""
    from ..kernel import gpx as kgpx
    return _decode_udf(kgpx.decode, strict=strict)
