"""Point-in-polygon join: cell prefilter -> exact ray-cast refine.

Re-expresses the reference's two index pushdown patterns — FlatGeobuf
packed-Hilbert-R-tree bbox scan (geozero README.md:88-95) and the GPKG
R-tree join (geozero-bench/benches/geobench.rs:198-208) — as a Spark
equi-join on Morton cell ids, then refines exactly with the vectorized
even-odd ray cast (GEOS prepared-geometry semantics, README.md:77-85).

Scale design (the part that must survive 1000 executors / 100 TB):

- The polygon side explodes into its bbox cell cover ONCE, entirely
  JVM-side (sequence/explode over grid ranges from the materialized
  bbox) — no Python, no UDF.
- When the polygon side is small (countries, admin zones — the common
  case), the exploded cover is broadcast: the points side is NEVER
  shuffled, so hot cells cannot skew a shuffle that doesn't exist.
- When both sides are big, we shuffle on the cell key with AQE skew
  splitting, plus optional deterministic salting: points get
  ``pmod(xxhash64(point_key), salt)`` and the polygon cover duplicates
  each cell row ``salt`` times — consistent on both sides by
  construction.
- The refine UDF sees only candidate pairs (cell-equal), decodes each
  polygon once per (batch, zone) and ray-casts the whole point slice
  vectorized.

Resolution trade-off: finer res -> more cover rows on the polygon side,
fewer false candidates on the refine; coarser res -> the opposite. For
zone-like polygons (degrees across), res 6-8 keeps cover sizes O(100)
while pruning >95% of candidates.
"""

from __future__ import annotations

import weakref

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

from ..functions import cols, udfs
from ..functions import sqlgen as sg
from ..plans import strategy


def explode_bbox_cover(df: DataFrame, res: int, bbox_col: str = "bbox",
                       out: str = "cell") -> DataFrame:
    """One row per (row, covering cell) for the row's bbox — JVM-side.

    The columnar analogue of walking the R-tree: a conservative grid
    cover of the geometry envelope at resolution ``res``.
    """
    ix0, iy0 = sg.grid_ixy(f"element_at({bbox_col}, 1)",
                           f"element_at({bbox_col}, 2)", res)
    ix1, iy1 = sg.grid_ixy(f"element_at({bbox_col}, 3)",
                           f"element_at({bbox_col}, 4)", res)
    out_df = (df
              # empty geometries carry bbox=[]; under ANSI element_at
              # would fail the whole job instead of skipping the feature
              .where(F.expr(f"size({bbox_col}) = 4"))
              .withColumn("ix",
                          F.expr(f"explode(sequence({ix0}, {ix1}))"))
              .withColumn("iy",
                          F.expr(f"explode(sequence({iy0}, {iy1}))")))
    # staged Morton assembly (cols.with_cell_from_ixiy) — the textual
    # make_cell form costs seconds of cold parse+codegen per plan
    return (cols.with_cell_from_ixiy(out_df, "ix", "iy", res, out=out)
            .drop("ix", "iy"))


def _point_salt(lon: str, lat: str, n: int):
    """Deterministic salt lane of a point, in [0, n). Cast to int: the
    cogrouped refine hash-partitions each side on its own key type,
    and murmur3(long 3) != murmur3(int 3) — a bigint salt against the
    int sequence side silently strands groups in mismatched
    partitions."""
    return F.pmod(F.xxhash64(F.col(lon), F.col(lat)),
                  F.lit(n)).cast("int")


# the shuffle path semi-joins the points against the cover cells when
# the estimated points bytes reaching the big exchange reach this.
# The prefilter's cost is ~fixed (one cover-distinct + broadcast
# job, ~1s); its saving scales with points bytes x uncovered-grid
# fraction — measured crossover on this box is ~100-200 MB of points
# exchange (PLANS.md §5 round-4 table), threshold set at the low end
# because overshooting wastes ~1s once while undershooting wastes
# O(points) forever at 10^12 rows.
_PREFILTER_AUTO_BYTES = 128 << 20


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's sizeInBytes estimate for a DataFrame's optimized
    plan (file-stats based for scans, propagated through projections).
    Unknown/unreliable estimates come back as the huge default —
    callers treating 'huge' as 'large input' fail safe for a
    fixed-cost-vs-linear-saving decision."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes()))
    except Exception:
        return 1 << 62

# prepared polygon-side state, keyed by the polys DataFrame OBJECT
# (weakly): the collected rows, decoded poly map (already broadcast)
# and the kernel cell cover. A dimension table joined repeatedly (the
# common pattern: one admin/zone dim object, many point queries) pays
# the collect job + decode + cover exactly once. Object identity — not a
# plan hash — so a fresh read of an overwritten path can never be
# served stale polygons, and two different dims can never collide;
# the cache empties itself when the caller drops the DataFrame.
_PREPARED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# most (key, cell) rows the broadcast cover holds on the driver and in
# the broadcast
_BROADCAST_COVER_CELLS = 4_000_000


def _prepare_broadcast_polys(polys: DataFrame, res: int, poly_key: str,
                             poly_geom: str):
    """Collect + decode + cover the polygon side once per (df object,
    res, columns)."""
    from ..kernel import cells as kcells
    from ..kernel import structrepr as sr

    spark = polys.sparkSession
    subkey = (res, poly_key, poly_geom)
    cached = _PREPARED.get(polys)
    if cached is not None and subkey in cached:
        return cached[subkey]

    tbl = strategy.collect_bounded(
        polys.select(poly_key, poly_geom), strategy.BROADCAST_ROWS,
        "pip_join broadcast polygons (use broadcast_polys=False, the "
        "shuffle path, optionally salt=N, for big-big joins)")
    rows = list(zip(*(udfs.pylist(c.combine_chunks()) for c in
                      tbl.columns)))
    # key -> LIST of geometries: a zone stored as several polygon rows
    # is legal (unique_polys=False) — a plain dict would silently keep
    # only the last row's geometry
    poly_map: dict = {}
    for r in rows:
        poly_map.setdefault(r[0], []).append(sr.from_struct(r[1]))
    bc = spark.sparkContext.broadcast(poly_map)
    # the cover comes from the SAME collected rows, computed with
    # the kernel driver-side and broadcast as a literal frame: a
    # distributed cover explode over decoded polygon expressions
    # compiled seconds of janino codegen per query and shipped the
    # deep parse tree into the plan for a 25-row dimension table.
    # Per-polygon cover is uncapped (limit = whole grid): the default
    # 4096-cell cap would reject a world-spanning bbox at res > 6 that
    # the distributed cover path accepted; the aggregate guard below
    # bounds driver memory instead.
    seen = set()
    cover_rows = []
    for r in rows:
        bb = r[1]["bbox"]
        if bb is None or len(bb) != 4:
            continue
        for cell in kcells.cover_bbox(bb[0], bb[1], bb[2], bb[3],
                                      res, limit=1 << (2 * res)):
            # dedupe (key, cell): overlapping bboxes of a multi-row
            # zone must not duplicate candidate rows downstream
            if (r[0], cell) not in seen:
                seen.add((r[0], cell))
                cover_rows.append((r[0], cell))
    strategy.check_bound(
        f"pip_join broadcast cover at res={res} (use a coarser res or "
        f"broadcast_polys=False)", len(cover_rows), _BROADCAST_COVER_CELLS)
    prepared = (bc, cover_rows)
    try:
        _PREPARED.setdefault(polys, {})[subkey] = prepared
    except TypeError:
        pass  # unhashable/unweakref-able DataFrame subclass: no cache
    return prepared


def pip_join(points: DataFrame, polys: DataFrame, res: int = 6,
             lon: str = "lon", lat: str = "lat",
             poly_geom: str = "poly", poly_key: str = "zone_id",
             broadcast_polys: bool = True, salt: int = 0,
             unique_polys: bool = True) -> DataFrame:
    """Exact point-in-polygon join.

    points: any columns + lon/lat (degrees). polys: poly_key + a
    geometry struct column ``poly_geom``. Returns points columns +
    poly_key for every (point, polygon) containment pair.

    ``unique_polys``: by default each poly_key is asserted to map to
    ONE polygon row (a duplicate raises instead of silently refining
    against an arbitrary row's geometry). Pass False for zones stored
    as several polygon rows: containment is then in-ANY-row semantics
    (masks OR-ed across the key's geometries) and exactly one output
    row per (point row, zone) — the shuffle path pays one extra
    distinct of the (zone, cell) cover for that.

    ``salt`` applies to the shuffle path only (the broadcast path
    never shuffles the points): each cell of the candidate join and
    each zone of the refine spread over ``salt`` lanes.

    When Catalyst's size estimate for the points side reaches
    ``_PREFILTER_AUTO_BYTES`` (measured crossover, PLANS.md §5 round-4
    table), the shuffle path semi-joins the points against the
    DISTINCT cover cells — bounded by the 4^res grid, so always
    broadcastable at sane res — BEFORE the big exchange, so points
    outside every polygon's bbox never shuffle. The cost is one extra
    pass over the polygon side plus a small distinct+broadcast job
    (~1s fixed), so small inputs keep the cheap plain exchange.
    """
    pts = cols.with_cell_col(points, lon, lat, res)
    if broadcast_polys:
        # broadcast path: candidates carry ONLY the polygon key — the
        # decoded polygons ride a TorrentBroadcast to the Python
        # workers once, instead of one full geometry struct per
        # candidate row through Arrow (measured ~3x refine speedup)
        from pyspark.sql.functions import arrow_udf
        from pyspark.sql.types import BooleanType

        from ..kernel import pip as kpip

        spark = points.sparkSession
        bc, cover_rows = _prepare_broadcast_polys(
            polys, res, poly_key, poly_geom)
        if unique_polys:
            dup = [k for k, gs in bc.value.items() if len(gs) > 1]
            if dup:
                raise ValueError(
                    f"pip_join: poly_key has duplicate rows for "
                    f"{dup[:5]}; pass unique_polys=False for "
                    f"multi-row zone (in-ANY-polygon) semantics")
        key_type = dict(polys.dtypes)[poly_key]
        cover = spark.createDataFrame(
            cover_rows, f"{poly_key} {key_type}, cell bigint")
        cand = pts.join(F.broadcast(cover), on="cell", how="inner")

        @arrow_udf(BooleanType())
        def refine(zone: pa.Array, px: pa.Array,
                   py: pa.Array) -> pa.Array:
            out = np.zeros(len(zone), dtype=bool)
            if len(zone):
                pxv = np.asarray(px, dtype=np.float64)
                pyv = np.asarray(py, dtype=np.float64)
                pm = bc.value
                # group rows by zone: dictionary codes, stable-sorted
                enc = zone.dictionary_encode()
                codes = np.asarray(enc.indices)
                order = np.argsort(codes, kind="stable")
                ends = np.searchsorted(codes[order],
                                       np.arange(1, len(enc.dictionary)
                                                 + 1))
                for z, idx in zip(enc.dictionary.to_pylist(),
                                  np.split(order, ends[:-1])):
                    m = kpip.points_in_polygon_np(
                        pxv[idx], pyv[idx], pm[z][0])
                    for g in pm[z][1:]:  # multi-row zone: in ANY
                        m |= kpip.points_in_polygon_np(
                            pxv[idx], pyv[idx], g)
                    out[idx] = m
            return pa.array(out)

        refined = cand.withColumn(
            "_inside", refine(F.col(poly_key), F.col(lon), F.col(lat)))
        return refined.where(F.col("_inside")).drop("_inside", "cell")

    keys = ["cell"]
    if salt > 0:
        pts = pts.withColumn("_salt", _point_salt(lon, lat, salt))
        keys.append("_salt")
    cover = explode_bbox_cover(
        polys.select(poly_key, poly_geom),
        res, bbox_col=f"{poly_geom}.bbox")
    # the candidate join ships NO geometry at all — just (zone, cell):
    # the refine below re-attaches each polygon once per group, so the
    # struct never rides the big exchange and never crosses Arrow
    # per-candidate-row (the 3x cost the broadcast path avoids, now
    # avoided distributed too)
    cover = cover.select(poly_key, "cell")
    if not unique_polys:
        # multi-row zones: overlapping bbox covers of the same key must
        # yield ONE candidate row per (point, zone) — distinct on the
        # small (dimension) side before the big exchange
        cover = cover.distinct()
    if _plan_size_bytes(pts) >= _PREFILTER_AUTO_BYTES:
        pts = pts.join(F.broadcast(cover.select("cell").distinct()),
                       on="cell", how="leftsemi")
    if salt > 0:
        cover = cover.withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    # the caller asserted the polygon side is too big to broadcast;
    # Catalyst's size estimate for the exploded cover is unreliable
    # (generate nodes), so pin the shuffle join here — AQE still
    # handles skew splitting / partition coalescing at runtime
    cand = pts.join(cover.hint("shuffle_hash"), on=keys, how="inner")

    # cogrouped exact refine: candidates and polygons meet on
    # (zone, salt); each group's geometry struct crosses the wire
    # ONCE and the whole point slice is ray-cast vectorized. A group
    # materializes as one Arrow table, so its size must be bounded:
    # the salt lane spreads a zone's candidates over `salt` groups
    # (zone_candidates / salt rows each; the polygon row is duplicated
    # salt times — the dimension side is cheap). When the caller
    # didn't salt the JOIN, a refine-only salt is derived here so an
    # unsalted big-big call still can't concentrate a whole hot zone
    # in one task; size `salt` to the hottest zone / a comfortable
    # table (AQE cannot split UDF groups).
    from pyspark.sql.pandas.types import to_arrow_schema

    from ..kernel import pip as kpip
    from ..kernel import structrepr as sr

    refine_salt = salt if salt > 0 else 16
    if salt == 0:
        cand = cand.withColumn("_salt",
                               _point_salt(lon, lat, refine_salt))
    gkeys = [poly_key, "_salt"]
    # rename the dimension side's columns: cand and polys share
    # lineage (the cover came from polys), and same-attribute grouping
    # keys trip the ambiguous-self-join analyzer
    pright = (polys.select(F.col(poly_key).alias("_pk"),
                           F.col(poly_geom).alias("_pg"))
              .withColumn("_salt2", F.explode(
                  F.sequence(F.lit(0), F.lit(refine_salt - 1)))))
    rkeys = ["_pk", "_salt2"]
    out_proto = cand.drop("cell", "_salt")
    out_cols = out_proto.columns
    out_schema = out_proto.schema
    # the JVM labels timestamps with the session time zone, the result
    # must carry Spark's UTC Arrow types: cast (metadata only) on return
    out_arrow = to_arrow_schema(out_schema)

    def refine(left, right):
        left = left.select(out_cols)
        if left.num_rows and right.num_rows:
            if unique_polys and right.num_rows > 1:
                raise ValueError(
                    f"pip_join: poly_key "
                    f"{right.column('_pk')[0].as_py()!r} has "
                    f"{right.num_rows} polygon rows; pass "
                    f"unique_polys=False for multi-row zone "
                    f"(in-ANY-polygon) semantics")
            pxv = left.column(lon).to_numpy()
            pyv = left.column(lat).to_numpy()
            mask = None
            for g in right.column("_pg").to_pylist():  # in ANY row
                m = kpip.points_in_polygon_np(pxv, pyv, sr.from_struct(g))
                mask = m if mask is None else mask | m
            left = left.filter(pa.array(mask))
        else:
            left = left.slice(0, 0)
        return left.cast(out_arrow)

    return (cand.groupBy(*gkeys)
            .cogroup(pright.groupBy(*rkeys))
            .applyInArrow(refine, out_schema))
