"""z/x/y tile assignment + Mapbox Vector Tile materialization.

Tile sink parity target: MvtWriter (geozero/src/mvt/mvt_writer.rs) —
the affine map->tile transform with Y flip (:157-173), validity rules
(:254-307), layer assembly (:148-155). The Spark shape is:

    geoms -> explode tiles covering bbox (JVM-side)    # cover
          -> groupBy(z, x, y)                          # shuffle on tile key
          -> applyInArrow(encode MVT layer per tile)   # one Arrow table/tile

The shuffle key is the tile id, so tile hot spots (dense cities at low
zoom) are the skew surface: AQE skew-join/partition splitting plus an
optional per-tile feature cap (``max_features``, applied deterministically
by sort key) bound the worst tile. Feature order inside a tile is sorted
by the feature key for run-to-run byte-identical tiles.
"""

from __future__ import annotations

from typing import Optional

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions import sqlgen as sg
from ..kernel import mvt as kmvt
from ..kernel import structrepr as sr
from ..kernel import tiles as ktiles

TILE_SCHEMA = ("z int, x bigint, y bigint, n_features int, "
               "n_skipped int, mvt binary")
_TILE_ARROW = pa.schema([("z", pa.int32()), ("x", pa.int64()),
                         ("y", pa.int64()), ("n_features", pa.int32()),
                         ("n_skipped", pa.int32()), ("mvt", pa.binary())])


def with_tile_eq(df: DataFrame, lon: str, lat: str, z: int,
                 quadkey: bool = False) -> DataFrame:
    """Equirectangular tile assignment (kernel.tiles.tile_xy_eq)."""
    x, y = sg.tile_xy_eq(lon, lat, z)
    out = (df.withColumn("z", F.lit(z))
             .withColumn("x", F.expr(x)).withColumn("y", F.expr(y)))
    if quadkey:
        out = out.withColumn(
            "quadkey", F.expr(sg.quadkey("x", "y", z, sg.SPARK)))
    return out


def with_tile_wm(df: DataFrame, lon: str, lat: str, z: int) -> DataFrame:
    """WebMercator (OSM slippy) tile assignment."""
    x, y = sg.tile_xy_wm(lon, lat, z)
    return (df.withColumn("z", F.lit(z))
            .withColumn("x", F.expr(x)).withColumn("y", F.expr(y)))


def explode_tiles_eq(df: DataFrame, z: int, bbox_col: str = "geom.bbox"
                     ) -> DataFrame:
    """One row per (row, covering equirect tile) from the bbox — JVM-side."""
    nx, ny = 2 << z, 1 << z

    def gx(e: str) -> str:
        return sg.clamp(sg.ibigint(
            f"(({e}) + {sg.f64(180.0)}) / {sg.f64(360.0)} * {nx}"),
            "0", str(nx - 1))

    def gy(e: str) -> str:
        return sg.clamp(sg.ibigint(
            f"({sg.f64(90.0)} - ({e})) / {sg.f64(180.0)} * {ny}"),
            "0", str(ny - 1))

    x0 = gx(f"element_at({bbox_col}, 1)")
    x1 = gx(f"element_at({bbox_col}, 3)")
    y0 = gy(f"element_at({bbox_col}, 4)")  # top edge -> smaller y
    y1 = gy(f"element_at({bbox_col}, 2)")
    return (df
            # empty geometries carry bbox=[]; skip them rather than
            # fail the job on ANSI element_at
            .where(F.expr(f"size({bbox_col}) = 4"))
            .withColumn("z", F.lit(z))
            .withColumn("x", F.expr(f"explode(sequence({x0}, {x1}))"))
            .withColumn("y", F.expr(f"explode(sequence({y0}, {y1}))")))


def mvt_tiles(df: DataFrame, z: int, key: str = "url",
              geom: str = "geom", layer: str = "layer",
              extent: int = 4096,
              max_features: Optional[int] = None,
              props: Optional[list] = None) -> DataFrame:
    """Materialize one MVT blob per (z, x, y).

    df must carry ``key`` (stable feature id / sort key) and a geometry
    struct column ``geom`` in lon/lat degrees. Invalid-in-tile features
    (MVT validity, mvt_writer.rs:254-307) are counted in ``n_skipped``.

    ``props``: optional list of df column names emitted as TYPED
    feature properties next to the default {"id": str(key)} tag —
    integral columns become MVT int values, floating-point columns
    double values, booleans bool values, everything else strings
    (mvt_writer.rs:380-401 value mapping; keys/values are deduped into
    the layer tables per :357-374). A NULL drops that tag on that
    feature.
    The prop columns ride the (z,x,y) exchange as flat columns like
    the geometry lanes — no struct/dict materialization per row."""
    from pyspark.sql import types as T

    props = list(props) if props else []
    prop_kinds: list = []
    if props:
        by_name = {f.name: f.dataType for f in df.schema.fields}
        for p in props:
            dt = by_name[p]  # unknown column -> loud KeyError
            if isinstance(dt, T.BooleanType):
                k = "bool"
            elif isinstance(dt, (T.LongType, T.IntegerType,
                                 T.ShortType, T.ByteType)):
                k = "int"
            elif isinstance(dt, (T.DoubleType, T.FloatType)):
                k = "float"
            else:
                k = "str"
            prop_kinds.append(k)

    cover = explode_tiles_eq(df.select(key, geom, *props), z,
                             bbox_col=f"{geom}.bbox")
    # the bbox did its job in the cover explode; shuffle only the
    # fields the encoder reads (bbox/srid/t-lanes are ~35% of the
    # struct's bytes and pure dead weight through the (z,x,y)
    # exchange) — and ship them FLAT: each lane reaches the encoder
    # as one Arrow array (coordinates as one flat values buffer plus
    # list offsets), never as a python dict per row
    cover = cover.select(
        key, "z", "x", "y",
        F.col(f"{geom}.kind").alias("_kind"),
        F.col(f"{geom}.has_z").alias("_has_z"),
        F.col(f"{geom}.has_m").alias("_has_m"),
        F.col(f"{geom}.coords").alias("_coords"),
        F.col(f"{geom}.offs1").alias("_offs1"),
        F.col(f"{geom}.offs2").alias("_offs2"),
        F.col(f"{geom}.wkb").alias("_wkb"),
        *[F.col(p).alias(f"_p{i}") for i, p in enumerate(props)])
    if max_features is not None:
        from pyspark.sql import Window
        w = Window.partitionBy("z", "x", "y").orderBy(key)
        cover = (cover.withColumn("_rn", F.row_number().over(w))
                 .where(F.col("_rn") <= max_features).drop("_rn"))

    _GCOLS = ("_kind", "_has_z", "_has_m", "_coords", "_offs1",
              "_offs2", "_wkb")

    def _props_list(tbl, keys_l):
        """Per-feature typed property dicts in sorted-row order, or
        None for the default {"id": str(key)}-only tagging. Coercion
        follows the DRIVER-captured Spark column type; Arrow keeps a
        nullable int column as int, so only NULL drops a tag."""
        if not props:
            return None
        cast = {"int": int, "float": float, "bool": bool, "str": str}
        cols_v = [tbl.column(f"_p{i}").to_pylist()
                  for i in range(len(props))]
        out = []
        for j, k in enumerate(keys_l):
            d = {"id": str(k)}
            for nm, kd, col in zip(props, prop_kinds, cols_v):
                if col[j] is not None:
                    d[nm] = cast[kd](col[j])
            out.append(d)
        return out

    def _encode_kernel(keys_l, tbl, left, bottom, right, top,
                       props_l=None):
        feats = []
        skipped = 0
        for i, (k, rec) in enumerate(
                zip(keys_l, tbl.select(list(_GCOLS)).to_pylist())):
            if rec["_kind"] is None:
                skipped += 1
                continue
            g = sr.from_struct({c[1:]: v for c, v in rec.items()})
            try:
                tg = ktiles.transform_geom_to_tile(
                    g, extent, left, bottom, right, top)
                feats.append(kmvt.feature_from_geom(
                    tg,
                    properties=(props_l[i] if props_l is not None
                                else {"id": str(k)}),
                    fid=i))
            except (ktiles.MvtValidityError, kmvt.MvtError):
                skipped += 1
        blob = kmvt.encode_tile(kmvt.MvtTile(
            layers=[kmvt.MvtLayer(name=layer, extent=extent,
                                  features=feats)]))
        return blob, len(feats), skipped

    def encode(tile_key, tbl):
        from . import mvt_fast
        zz, xx, yy = (v.as_py() for v in tile_key)
        left, bottom, right, top = ktiles.tile_bounds_eq(zz, xx, yy)
        # stable: ties keep arrival order, null keys sort last
        tbl = tbl.sort_by([(key, "ascending")])
        keys_l = tbl.column(key).to_pylist()
        props_l = _props_list(tbl, keys_l)
        res = mvt_fast.encode_tile_cols(
            layer, extent, keys_l, *(tbl.column(c) for c in _GCOLS),
            left, bottom, right, top, props_list=props_l)
        if res is None:
            res = _encode_kernel(keys_l, tbl, left, bottom, right, top,
                                 props_l=props_l)
        blob, n_feats, skipped = res
        return pa.Table.from_pylist(
            [{"z": zz, "x": xx, "y": yy, "n_features": n_feats,
              "n_skipped": skipped, "mvt": blob}], schema=_TILE_ARROW)

    return cover.groupBy("z", "x", "y").applyInArrow(encode, TILE_SCHEMA)
