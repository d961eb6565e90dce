"""The engine's query catalog — one callable per operator (SURVEY.md §2).

Every callable takes (spark, sf_dir) and returns a DataFrame; the
matching DuckDB oracle lives in geozero_spark/oracles.py with the SAME
output column names (the driver hash-compares sorted values).

The engine path is deliberately end-to-end: queries go through the
synthetic pages table -> regexp payload extraction -> Arrow-UDF WKT
decode -> JVM cell/tile math / joins — never shortcutting to the
generator arithmetic the oracle uses.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import cols, sqlgen as sg, udfs
from .operators import (bbox_select, boundsagg, dedup, knn, pip_join,
                        raster, similarity, textstats, tiling)
from .sources import pages as P

LOC_RE = r"loc:(POINT\([0-9 -]+\));"
GEO_RE = r"geo:([A-Z]+\([0-9 ,()-]+\));"

# fixed parameters shared with oracles.py
CELL_RES = 8
CELL_RES_COARSE = 6
PIP_RES = 6
KNN_K = 3
KNN_RES = 4
TILE_Z = 4
COVER_Z = 3
BBOX = (-30.0, -20.0, 40.0, 35.0)  # xmin, ymin, xmax, ymax (degrees)
ANN_K = 5
EMB_DIM = 64
LSH_BITS = 48   # 16 bands x 3 bits: measured recall@5 ~0.92 on the
LSH_BANDS = 16  # synthetic embeddings (see tests/test_similarity.py)
LSH_MAX_BUCKET = 100000  # degenerate-bucket cap, mirrored in the oracle
QUERY_MOD = 29  # doc_id % QUERY_MOD == 0 -> kNN/ANN query row
IVF_K = 8       # IVF coarse-quantizer centroids
IVF_PROBE = 2   # clusters probed per query
IVF_ITERS = 2   # fixed Lloyd rounds (deterministic, oracle-mirrored)
NUM_PERM = 16
BANDS = 4
SIG_SHOW = 8
JACCARD_T = 0.6
RASTER_Z = 3
RASTER_GRID = 16
RASTER_SCALE = 32


def points_from_pages(pages: DataFrame) -> DataFrame:
    """pages -> extracted/decoded point location (+ doc_id, lon/lat).

    Point decode stays pure-JVM inside whole-stage codegen end to end,
    and since round 4 it is an instr/substring parse rather than
    regexes: the hot cost was the regex scan over the ~300-char text
    (plus two anchored regexes on the extracted WKT), and the
    substring arithmetic is 1.4x faster at 10M rows for identical
    values (try_cast guards replace the regex's character-class
    strictness — a malformed loc yields an all-NULL row either way;
    ANSI mode means a plain CAST would abort the job instead). The
    kernel point codec remains the parity path, oracle-exercised by
    wkt_roundtrip / wkb_roundtrip; q_extract_text keeps its own
    regexp, which IS the byte-identical extracted-text contract.

    xc/yc stay SMALL leaf expressions: a struct-mediated
    element_at(geom.coords, …) would be re-inlined wholesale into
    every downstream reference (the Morton spread alone references a
    coordinate ~32x), ballooning codegen to a JVM-heap-OOM at plan
    compile time."""
    tag = "loc:POINT("
    out = (pages
           .withColumn("_lp", F.expr(f"instr(text, '{tag}')"))
           .withColumn("_lw", F.expr(
               f"substring(text, _lp + {len(tag)}, 40)"))
           .withColumn("_lb", F.expr(
               "substring(_lw, 1, instr(_lw, ')') - 1)"))
           .withColumn("_lx", F.expr(
               "try_cast(substring(_lb, 1, instr(_lb, ' ') - 1) "
               "AS LONG)"))
           .withColumn("_ly", F.expr(
               "try_cast(substring(_lb, instr(_lb, ' ') + 1) AS LONG)"))
           .withColumn("_lok", F.expr(
               "_lp > 0 AND _lx IS NOT NULL AND _ly IS NOT NULL")))
    return (out
            .withColumn("loc_wkt", F.expr(
                "IF(_lok, concat('POINT(', _lb, ')'), '')"))
            .withColumn("xc", F.expr("IF(_lok, _lx, NULL)"))
            .withColumn("yc", F.expr("IF(_lok, _ly, NULL)"))
            .withColumn("geom", cols.point_struct_from_xy(
                F.col("xc"), F.col("yc")))
            # last url segment IS the doc id — substring_index replaces
            # the one regex left in the hot decode (13% on the 10M-row
            # stage, values bit_xor-parity-checked vs the regex form;
            # try_cast: a non-numeric tail yields NULL, not an ANSI
            # abort). The documented contract form is the regex
            # r"/page/([0-9]+)$".
            .withColumn("doc_id", F.expr(
                "try_cast(substring_index(url, '/', -1) AS LONG)"))
            .withColumn("lon", F.col("xc") / F.lit(100.0))
            .withColumn("lat", F.col("yc") / F.lit(100.0))
            .drop("_lp", "_lw", "_lb", "_lx", "_ly", "_lok"))


def points_df(spark: SparkSession, sf_dir: str,
              clones: int = 1) -> DataFrame:
    return points_from_pages(P.pages_df(spark, sf_dir, clones=clones))


def geos_from_pages(pages: DataFrame) -> DataFrame:
    """pages -> extracted/decoded secondary geometry (lines/polygons).

    GEO_RE only ever yields simple LINESTRING / single-ring POLYGON
    text, so the decode is the pure-JVM parse
    (cols.simple_geom_from_wkt_jvm) — zero Python in the geometry scan.
    The kernel WKT codec stays the general path, oracle-exercised by
    wkt_roundtrip / zones_encode / geojson_encode."""
    return (pages
            .withColumn("geo_wkt",
                        F.nullif(F.regexp_extract("text", GEO_RE, 1),
                                 F.lit("")))
            .where(F.col("geo_wkt").isNotNull())
            .withColumn("geom_c",
                        cols.simple_geom_from_wkt_jvm(F.col("geo_wkt")))
            .withColumn("geom", cols.scale_flat(F.col("geom_c"), 0.01)))


def geos_df(spark: SparkSession, sf_dir: str,
            clones: int = 1) -> DataFrame:
    """pages -> extracted/decoded secondary geometry (lines/polygons)."""
    return geos_from_pages(P.pages_df(spark, sf_dir, clones=clones))


def zones_decoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-ring diamond WKT -> pure-JVM parse (no Python workers for
    # a 25-row dimension table); kernel codec parity is pinned by
    # tests and the zones_encode oracle consumes this same struct
    return (P.zones_df(spark, sf_dir)
            .withColumn("poly_c",
                        cols.simple_geom_from_wkt_jvm(F.col("zone_wkt")))
            .withColumn("poly", cols.scale_flat(F.col("poly_c"), 0.01)))


# --------------------------------------------------------------------------
# format / codec queries
# --------------------------------------------------------------------------

def q_extract_text(spark, sf_dir):
    """Payload extraction — the byte-identical-text-per-url invariant."""
    return (P.pages_df(spark, sf_dir)
            .select("url",
                    F.regexp_extract("text", LOC_RE, 1).alias("loc_wkt"),
                    F.nullif(F.regexp_extract("text", GEO_RE, 1),
                             F.lit("")).alias("geo_wkt")))


def q_wkt_roundtrip(spark, sf_dir):
    """WKT decode -> encode identity (wkt_reader/wkt_writer parity)."""
    dec = udfs.st_geomfromwkt()
    enc = udfs.st_aswkt()
    npts = udfs.st_npoints()
    return (q_extract_text(spark, sf_dir)
            .withColumn("_l", dec("loc_wkt"))
            .withColumn("_g", dec("geo_wkt"))
            .select("url",
                    enc("_l").alias("loc_rt"),
                    enc("_g").alias("geo_rt"),
                    npts("_g").alias("geo_npoints")))


def q_geojson_encode(spark, sf_dir):
    """GeoJSON writer parity (geojson_writer.rs formatting)."""
    dec = udfs.st_geomfromwkt()
    enc = udfs.st_asgeojson()
    return (q_extract_text(spark, sf_dir)
            .withColumn("_l", dec("loc_wkt"))
            .withColumn("_g", dec("geo_wkt"))
            .select("url",
                    enc("_l").alias("loc_json"),
                    enc("_g").alias("geo_json")))


def q_wkb_roundtrip(spark, sf_dir):
    """EWKB encode -> decode roundtrip incl. SRID header
    (wkb_writer.rs:102-253 / wkb_reader.rs:216-241)."""
    dec = udfs.st_geomfromwkt()
    enc = udfs.st_aswkb(dialect="ewkb", srid=4326)
    dec2 = udfs.st_geomfromwkb(dialect="ewkb")
    return (P.pages_df(spark, sf_dir)
            .withColumn("_g", dec(F.regexp_extract("text", LOC_RE, 1)))
            .withColumn("_rt", dec2(enc("_g")))
            .select("url",
                    cols.point_x(F.col("_rt")).cast("long").alias("x_c"),
                    cols.point_y(F.col("_rt")).cast("long").alias("y_c"),
                    F.col("_rt.srid").alias("srid")))


def q_tm_roundtrip(spark, sf_dir):
    """XYZM coordinate lanes end to end: tagged ``LINESTRING ZM`` WKT
    decode -> EWKB encode (Z|M flag bits) -> decode -> untagged WKT
    re-emit, plus JVM-side Z/M extraction straight off the flat
    4-wide coord lane (struct coords x,y,z,m interleave).

    Reference parity: CoordDimensions xyzm through the WKB
    writer/reader (geozero/src/wkb/wkb_writer.rs:102-253,
    wkb_common.rs dim flags) and the WKT reader's ZM tag handling;
    the reference pins the same path in its roundtrip suite
    (geozero/src/wkb/wkb_writer.rs:490-514 DIM_XYZM fixtures)."""
    P.register_views(spark, sf_dir, tables=("documents",))
    dec = udfs.st_geomfromwkt()
    enc = udfs.st_aswkt()
    wenc = udfs.st_aswkb(dialect="ewkb")
    wdec = udfs.st_geomfromwkb(dialect="ewkb")
    df = spark.sql(f"SELECT {P.URL} AS url, {P.TM_WKT_IN} AS tm_wkt "
                   f"FROM documents")
    df = df.withColumn("_g", wdec(wenc(dec("tm_wkt"))))
    lane = ("CAST(aggregate(transform(_g.coords, (v, i) -> "
            "IF(i % 4 = {k}, v, CAST(0 AS DOUBLE))), CAST(0 AS DOUBLE), "
            "(a, v) -> a + v) AS BIGINT)")
    return df.select(
        "url", enc("_g").alias("tm_rt"),
        F.col("_g.has_z").alias("has_z"),
        F.col("_g.has_m").alias("has_m"),
        F.expr(lane.format(k=2)).alias("z_sum"),
        F.expr(lane.format(k=3)).alias("m_sum"))


def q_zones_encode(spark, sf_dir):
    """Polygon sinks: WKT / EWKT / GeoJSON / CSV-row encodes of zones."""
    z = zones_decoded(spark, sf_dir)
    enc_wkt = udfs.st_aswkt()
    enc_ewkt = udfs.st_asewkt()
    enc_json = udfs.st_asgeojson()
    srid = udfs.st_aswkb(dialect="ewkb", srid=4326)
    dec2 = udfs.st_geomfromwkb(dialect="ewkb")
    with_srid = dec2(srid(F.col("poly_c")))
    return z.select(
        "zone_id", "zone_name",
        enc_wkt("poly_c").alias("wkt_rt"),
        enc_ewkt(with_srid).alias("ewkt"),
        enc_json("poly_c").alias("geojson"),
        F.concat(enc_wkt("poly_c"), F.lit(","), F.col("zone_name"),
                 F.lit(","), F.col("zone_id").cast("string"))
        .alias("csv_row"))


def q_html_meta(spark, sf_dir):
    """Opaque-binary payload handling (multimodal pattern): decode the
    html bytes per Arrow batch, pull typed metadata."""
    def extract(it):
        for b in it:
            titles = []
            nbytes = []
            for raw in b.column("html").to_pylist():
                nbytes.append(len(raw))
                s = raw.decode("utf-8", errors="replace")
                i = s.find("<title>")
                j = s.find("</title>")
                titles.append(s[i + 7:j] if 0 <= i < j else None)
            yield pa.RecordBatch.from_pydict({
                "url": b.column("url"),
                "html_bytes": pa.array(nbytes, pa.int64()),
                "title": pa.array(titles, pa.string())})

    return (P.pages_df(spark, sf_dir).select("url", "html")
            .mapInArrow(extract,
                        "url string, html_bytes long, title string"))


def q_svg_encode(spark, sf_dir):
    """SVG writer parity (svg/writer.rs): one path element per zone."""
    z = zones_decoded(spark, sf_dir)
    return z.select("zone_id", udfs.st_assvg()("poly_c").alias("svg"))


def q_rasterize(spark, sf_dir):
    """vector -> raster: per-tile pixel-grid counts (Tessellator-class
    op from SURVEY §2.6 raster<->vector)."""
    pts = points_df(spark, sf_dir)
    return raster.rasterize_counts(pts, z=RASTER_Z, grid=RASTER_GRID)


def q_vectorize(spark, sf_dir):
    """raster -> vector: occupied pixels back to boundary polygons."""
    pts = points_df(spark, sf_dir)
    counts = raster.rasterize_counts(pts, z=RASTER_Z, grid=RASTER_GRID)
    return raster.vectorize_pixels(counts, threshold=1, z=RASTER_Z,
                                   grid=RASTER_GRID, scale=RASTER_SCALE)


def q_raster_tiles(spark, sf_dir):
    """Binary raster blobs per tile (rows-only: binary sink; content is
    checked by q_raster_content, which decodes these same blobs)."""
    pts = points_df(spark, sf_dir)
    t = raster.rasterize_tiles(pts, z=RASTER_Z, grid=RASTER_GRID)
    return t.select("z", "x", "y", "grid",
                    F.length("raster").alias("raster_bytes"), "raster")


def q_raster_content(spark, sf_dir):
    """Content oracle for the raster sink: decode each tile's
    big-endian uint32 grid blob with pure JVM byte arithmetic
    (substring/hex/conv — no Python in the decode) and emit per-tile
    pixel sum, index-weighted sum, and nonzero-pixel count; the DuckDB
    oracle rebuilds the same numbers from the pixel-count arithmetic."""
    pts = points_df(spark, sf_dir)
    t = raster.rasterize_tiles(pts, z=RASTER_Z, grid=RASTER_GRID)
    npx = RASTER_GRID * RASTER_GRID
    pix = (f"transform(sequence(0, {npx - 1}), i -> "
           f"CAST(conv(hex(substring(raster, i * 4 + 1, 4)), 16, 10) "
           f"AS BIGINT))")
    return (t.withColumn("_pix", F.expr(pix))
            .select(
                "z", "x", "y",
                F.expr("aggregate(_pix, 0L, (acc, v) -> acc + v)")
                .alias("pixel_sum"),
                F.expr("aggregate(zip_with(_pix, sequence(0, "
                       f"{npx - 1}), (v, i) -> v * CAST(i AS BIGINT)), "
                       "0L, (acc, v) -> acc + v)").alias("wsum"),
                F.expr("CAST(size(filter(_pix, v -> v > 0)) AS BIGINT)")
                .alias("nnz")))


# --------------------------------------------------------------------------
# spatial index / join / tiling queries
# --------------------------------------------------------------------------

def q_cell_assign(spark, sf_dir):
    # staged Morton columns (cols.with_cell_col) — value-identical to
    # the sg.cell_id text the oracle runs, ~4x cheaper cold plan cost
    pts = cols.with_cell_col(points_df(spark, sf_dir),
                             "lon", "lat", CELL_RES, out="cell")
    parent = sg.cell_parent("cell", CELL_RES,
                            CELL_RES - CELL_RES_COARSE, sg.SPARK)
    return pts.select("url", "cell",
                      F.expr(parent).alias("cell_coarse"))


def q_cell_counts(spark, sf_dir):
    pts = cols.with_cell_col(points_df(spark, sf_dir),
                             "lon", "lat", CELL_RES_COARSE, out="cell")
    return (pts.groupBy("cell")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("lang").alias("n_langs")))


def q_pip_join(spark, sf_dir):
    pts = points_df(spark, sf_dir).select("url", "doc_id", "lon", "lat")
    polys = zones_decoded(spark, sf_dir).select("zone_id", "poly")
    out = pip_join.pip_join(pts, polys, res=PIP_RES,
                            broadcast_polys=True)
    return out.select("url", "zone_id")


def q_pip_counts(spark, sf_dir):
    pts = points_df(spark, sf_dir).select("url", "lon", "lat")
    z = zones_decoded(spark, sf_dir)
    joined = pip_join.pip_join(pts, z.select("zone_id", "poly"),
                               res=PIP_RES)
    return (joined.groupBy("zone_id")
            .agg(F.count("*").alias("n_points"))
            .join(z.select("zone_id", "zone_name"), "zone_id")
            .select("zone_id", "zone_name", "n_points"))


def q_knn(spark, sf_dir):
    pts = points_df(spark, sf_dir)
    queries = (pts.where(F.col("doc_id") % QUERY_MOD == 0)
               .select(F.col("doc_id").alias("q_id"),
                       F.col("xc").alias("qx"), F.col("yc").alias("qy")))
    targets = pts.select(F.col("doc_id").alias("t_id"),
                         F.col("xc").alias("tx"), F.col("yc").alias("ty"))
    return knn.knn_join(queries, targets, k=KNN_K, res=KNN_RES,
                        query_key="q_id", target_key="t_id")


def q_tile_assign(spark, sf_dir):
    pts = points_df(spark, sf_dir)
    out = tiling.with_tile_eq(pts, "lon", "lat", TILE_Z, quadkey=True)
    out = (out.withColumnRenamed("x", "ex").withColumnRenamed("y", "ey")
           .drop("z"))
    out = tiling.with_tile_wm(out, "lon", "lat", TILE_Z)
    return out.select("url", "ex", "ey", "quadkey",
                      F.col("x").alias("wx"), F.col("y").alias("wy"))


def q_tile_cover(spark, sf_dir):
    g = geos_df(spark, sf_dir).select("url", "geom")
    return (tiling.explode_tiles_eq(g, COVER_Z)
            .select("url", "x", "y"))


def q_mvt_tiles(spark, sf_dir):
    """Non-SQL-expressible sink: MVT binary per tile (rows-only check;
    byte-level parity is covered by kernel golden tests vs tile.mvt)."""
    g = geos_df(spark, sf_dir).select("url", "geom")
    t = tiling.mvt_tiles(g, COVER_Z, key="url")
    return t.select("z", "x", "y", "n_features", "n_skipped",
                    F.length("mvt").alias("mvt_bytes"), "mvt")


def q_mvt_feature_counts(spark, sf_dir):
    """Oracle bridge for the binary MVT sink: the per-tile feature
    count of the encoded layer must equal the SQL-derivable tile-cover
    count (all synthetic geometries are MVT-valid by construction)."""
    g = geos_df(spark, sf_dir).select("url", "geom")
    t = tiling.mvt_tiles(g, COVER_Z, key="url")
    return t.select("z", "x", "y", "n_features")


def q_mvt_content(spark, sf_dir):
    """Content oracle for the binary MVT sink: decode every emitted
    blob (kernel decoder) and emit per-tile invariants — feature count,
    vertex count, the sums of decoded tile-space coordinates, AND
    aggregates of three TYPED feature properties (int text length,
    double half-length, string lang — mvt_writer.rs:380-401 value
    mapping through the deduped keys/values tables) — all
    reconstructible in SQL from the generator arithmetic. Green here
    means the distributed encoder's BYTES are right (tags included),
    not merely its row count."""
    g = (geos_df(spark, sf_dir)
         .withColumn("tlen", F.length("text").cast("long"))
         .withColumn("score", (F.length("text") * 0.5).cast("double"))
         .select("url", "geom", "tlen", "score", "lang"))
    t = tiling.mvt_tiles(g, COVER_Z, key="url",
                         props=["tlen", "score", "lang"])
    s = udfs.mvt_tile_stats(int_prop="tlen", float_prop="score",
                            str_prop="lang")
    return (t.withColumn("s", s("mvt"))
            .select("z", "x", "y",
                    F.col("s.n_features").alias("n_features"),
                    F.col("s.vtx_sum").alias("vtx_sum"),
                    F.col("s.sx_sum").alias("sx_sum"),
                    F.col("s.sy_sum").alias("sy_sum"),
                    F.col("s.prop_int_sum").alias("prop_int_sum"),
                    F.col("s.prop_float_sum").alias("prop_float_sum"),
                    F.col("s.prop_chars").alias("prop_chars")))


SHP_FIXTURE_CAP = 10_000


def _point_shp_encoder(rows):
    """Point shapefile of (doc_id, xc, yc) rows in doc_id order."""
    from .kernel import shp as kshp
    from .kernel.model import POINT, Geom

    rows.sort(key=lambda r: r["doc_id"])
    return kshp.encode([Geom(POINT, (float(r["xc"]), float(r["yc"])))
                        for r in rows]), len(rows)


def _point_fixture(spark, sf_dir: str, fmt: str) -> str:
    """Directory of the ``fmt`` container fixture ("shp", "fgb",
    "gpkgw" one file, "gpkgd" one file per partition) over the first
    SHP_FIXTURE_CAP synthetic points in doc_id order, written once.

    The writes stay OFF the driver: each container is written by
    executor tasks over the deterministically capped slice, never an
    O(table) driver collect (on a real cluster the directory must be
    shared storage). A fixture is complete only when its ``_COMPLETE``
    marker exists, written after the writer returns: a directory
    without one (a run killed after some of its tasks) is cleared and
    written again, never read as the whole fixture. The cap is part of
    the directory name, so a fixture written under a different cap
    never aliases this one (the oracles have LIMIT cap)."""
    import hashlib
    import os
    import shutil

    from .sources import readers

    P.register_views(spark, sf_dir)
    tag = hashlib.sha1(sf_dir.encode()).hexdigest()[:12]
    d = f"/tmp/gz_{fmt}_{tag}_cap{SHP_FIXTURE_CAP}"
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    src = spark.sql(
        f"SELECT doc_id, {P.LON_C} AS xc, {P.LAT_C} AS yc, "
        f"{P.LOC_WKT} AS wkt FROM documents "
        f"ORDER BY doc_id LIMIT {SHP_FIXTURE_CAP}")
    pts = src.select(
        "doc_id", cols.point_struct_from_wkt_jvm(F.col("wkt")).alias("geom"))
    if fmt == "shp":
        readers.write_container(src.select("doc_id", "xc", "yc"),
                                os.path.join(d, "points.shp"),
                                _point_shp_encoder)
    elif fmt == "fgb":
        readers.write_fgb(pts, os.path.join(d, "points.fgb"), name="points")
    elif fmt == "gpkgw":
        readers.write_gpkg(pts, os.path.join(d, "points.gpkg"),
                           table="points")
    else:
        readers.write_gpkg_dir(pts.repartition(4, "doc_id"), d,
                               table="points")
    open(marker, "w").close()
    return d


def _doc_xy(df: DataFrame) -> DataFrame:
    """(doc_id, x_c, y_c) of a point-feature scan whose doc_id rides as
    a feature property."""
    return df.select(
        F.col("props")["doc_id"].cast("long").alias("doc_id"),
        cols.point_x(F.col("geom")).cast("long").alias("x_c"),
        cols.point_y(F.col("geom")).cast("long").alias("y_c"))


def q_shp_decode(spark, sf_dir):
    """Shapefile reader through the Spark layer: a Point shapefile is
    materialized deterministically from the synthetic points (kernel
    writer, ONE executor task: a shapefile is a single sequential
    container), then scanned via read_shp (binaryFile -> kernel record
    decode -> struct). Output is (recno, x_c, y_c) with recno
    the 1-based shapefile record number in doc_id order."""
    from .sources import readers

    out = readers.read_shp(spark, _point_fixture(spark, sf_dir, "shp"))
    return out.select(
        (F.col("record_idx") + 1).cast("int").alias("recno"),
        cols.point_x(F.col("geom")).cast("long").alias("x_c"),
        cols.point_y(F.col("geom")).cast("long").alias("y_c"))


def q_fgb_decode(spark, sf_dir):
    """FlatGeobuf writer + reader through the Spark layer: synthetic
    points -> JVM WKT parse -> geom struct -> write_fgb (ONE executor
    task; Hilbert-sorted, packed-R-tree-indexed per the public spec) ->
    read_fgb scan (kernel/fgb.py). The reference both reads and writes
    .fgb (geozero-cli/src/main.rs:161-166 FgbWriter); doc_id rides as a
    feature property so the file's Hilbert reorder is invisible to the
    order-insensitive oracle."""
    from .sources import readers

    return _doc_xy(readers.read_fgb(
        spark, _point_fixture(spark, sf_dir, "fgb")))


def q_fgb_ranged_decode(spark, sf_dir):
    """Range-read FlatGeobuf scan (kernel/fgbremote.py — the
    reference's HttpFgbReader pattern, cluster-parallel): the SAME
    writer-materialized fixture as q_fgb_decode, scanned via
    read_fgb_ranged in 4 executor byte-range splits instead of a
    whole-file read. Shares fgb_decode's oracle semantics."""
    import os

    from .sources import readers

    path = os.path.join(_point_fixture(spark, sf_dir, "fgb"), "points.fgb")
    return _doc_xy(readers.read_fgb_ranged(spark, path, n_splits=4))


def q_gpkg_decode(spark, sf_dir):
    """GeoPackage writer + reader through the Spark layer: synthetic
    points -> geom struct -> write_gpkg (ONE executor task; full GPKG
    core profile, kernel/sqlitewrite.py B-trees) -> read_gpkg scan
    (kernel/sqlitefile.py walker). doc_id rides as a feature property;
    fids enumerate input order so the oracle is order-insensitive."""
    from .sources import readers

    return _doc_xy(readers.read_gpkg(
        spark, _point_fixture(spark, sf_dir, "gpkgw"), table="points"))


def q_gpkg_dir_decode(spark, sf_dir):
    """The PARTITION-PARALLEL GeoPackage sink end to end: the same
    capped point set repartitioned 4 ways -> write_gpkg_dir (one
    .gpkg container per partition, each with its own B-trees +
    registry) -> read_gpkg directory scan merging all files. The
    order-insensitive compare absorbs the partition split; green here
    means every per-partition container is independently valid AND
    the directory scan reassembles exactly the input rows."""
    from .sources import readers

    return _doc_xy(readers.read_gpkg(
        spark, _point_fixture(spark, sf_dir, "gpkgd"), table="points"))


def q_gpx_decode(spark, sf_dir):
    """GPX reader through the Spark layer: per-page GPX documents
    (waypoint + track + route) -> member geometries in the reference's
    member order (gpx_reader.rs:26-43 — waypoints, per-track
    MultiLineString, all-routes MultiLineString)."""
    P.register_views(spark, sf_dir)
    gdf = spark.sql(
        f"SELECT {P.URL} AS url, {P.GPX_XML} AS gpx FROM documents")
    u = udfs.gpx_members()
    m = (gdf.withColumn("m", u("gpx"))
         .select("url", F.posexplode(F.arrays_zip(
             "m.kind", "m.n_points", "m.x0", "m.y0"))
             .alias("member_idx", "mm")))
    return m.select(
        "url", F.col("member_idx").cast("int").alias("member_idx"),
        F.col("mm.kind").alias("kind"),
        F.col("mm.n_points").alias("n_points"),
        F.col("mm.x0").cast("long").alias("x0"),
        F.col("mm.y0").cast("long").alias("y0"))


def q_tessellate(spark, sf_dir):
    """Tessellator over donut zones (outer diamond + interior-ring
    hole): WKT decode -> hole bridging -> ear clip, emitting exact
    integer invariants — merged-chain vertex count (4+4+2), triangle
    count (n-2), and doubled filled area 4*(r^2 - rh^2), which the
    oracle reconstructs from the zone radii."""
    dz = P.donut_zones_df(spark, sf_dir)
    dec = udfs.st_geomfromwkt()
    stats = udfs.tessellate_stats()
    return (dz.withColumn("s", stats(dec("donut_wkt")))
            .select("zone_id",
                    F.col("s.n_vertices").alias("n_vertices"),
                    F.col("s.n_triangles").alias("n_triangles"),
                    F.col("s.area2").alias("area2")))


def q_bounds_agg(spark, sf_dir):
    g = geos_df(spark, sf_dir)
    return boundsagg.dataset_bounds(g, geom="geom")


def q_bbox_select(spark, sf_dir):
    pts = cols.with_cell_col(points_df(spark, sf_dir), "lon", "lat",
                             CELL_RES)
    # on-the-fly cell expression -> compact predicate form (see
    # bbox_filter docstring); the pushdown OR form is exercised against
    # stored cell columns by test_partitioned_bbox_pruning / PLANS.md
    out = bbox_select.bbox_filter(pts, *BBOX, res=CELL_RES,
                                  pushdown_form=False)
    return out.select("url", "lon", "lat")


# --------------------------------------------------------------------------
# training-data pipeline queries (documents / embeddings tables)
# --------------------------------------------------------------------------

def _documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_with_mutants(spark, sf_dir):
    """documents plus near-duplicate mutants (id + 10000, 'the ' removed)
    so near-dup detection has planted ground truth."""
    d = _documents(spark, sf_dir).select("doc_id", "text")
    m = d.select((F.col("doc_id") + 10000).alias("doc_id"),
                 F.expr("replace(text, 'the ', '')").alias("text"))
    return d.unionByName(m)


def q_exact_dedup(spark, sf_dir):
    d = _documents(spark, sf_dir).withColumn(
        "prefix", F.expr("substring(text, 1, 40)"))
    return dedup.exact_dedup(d, text_col="prefix", key="doc_id")


def q_exact_dedup_verified(spark, sf_dir):
    """verify=True two-pass exact dedup: hash buckets first (payload
    off the exchange), then only multi-member buckets re-grouped by
    full text. Its oracle is the EXACT text grouping — so the pair
    (exact_dedup, exact_dedup_verified) pins both that the hash
    grouping matches the hash oracle and that the verified path
    matches ground truth."""
    d = _documents(spark, sf_dir).withColumn(
        "prefix", F.expr("substring(text, 1, 40)"))
    return dedup.exact_dedup(d, text_col="prefix", key="doc_id",
                             verify=True)


def q_minhash_sigs(spark, sf_dir):
    d = _documents(spark, sf_dir)
    s = dedup.minhash_signatures(d.select("doc_id", "text"),
                                 num_perm=SIG_SHOW, fast=False)
    return s.select("doc_id", *[
        F.col("sig")[i].alias(f"mh{i}") for i in range(SIG_SHOW)])


def q_minhash_pairs(spark, sf_dir):
    d = _docs_with_mutants(spark, sf_dir)
    return dedup.minhash_lsh_pairs(d, num_perm=NUM_PERM, bands=BANDS,
                                   fast=False)


def q_simhash(spark, sf_dir):
    d = _documents(spark, sf_dir).select("doc_id", "text")
    return dedup.simhash(d, fast=False).select("doc_id", "simhash")


def q_ngram_pairs(spark, sf_dir):
    d = _documents(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(d, threshold=JACCARD_T)


def q_near_dup(spark, sf_dir):
    """The scale composition: MinHash-LSH candidates -> exact
    distinct-3-gram Jaccard verification, over documents + planted
    near-duplicate mutants. LSH bounds the pair space; the verify is
    exact — together the shape a 100 TB dedup actually runs."""
    d = _docs_with_mutants(spark, sf_dir)
    return dedup.near_dup_pipeline(d, num_perm=NUM_PERM, bands=BANDS,
                                   threshold=JACCARD_T, fast=False)


def q_dup_clusters(spark, sf_dir):
    """The step after near-dup pairs that a training pipeline actually
    consumes: connected components (alternating large-star/small-star,
    O(log n) rounds, no driver loop over rows) -> per-doc cluster id
    (MIN doc_id of the component) + keep flag for the canonical
    survivor. Unpaired docs are their own singleton cluster."""
    d = _docs_with_mutants(spark, sf_dir)
    pairs = dedup.near_dup_pipeline(d, num_perm=NUM_PERM, bands=BANDS,
                                    threshold=JACCARD_T, fast=False)
    return dedup.dup_clusters(d, pairs)


def _ann_inputs(spark, sf_dir):
    """(q_id, qvec) queries — every QUERY_MOD-th vector — and
    (t_id, tvec) targets from embeddings.parquet."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = (e.where(F.col("vec_id") % QUERY_MOD == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qvec")))
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    return q, t


def _recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per query: how many of the exact top-k pairs the approximate
    top-k found (n_hit), and n_hit / ANN_K."""
    hits = approx.select("q_id", "t_id").withColumn("_hit", F.lit(1))
    joined = exact.select("q_id", "t_id").join(
        hits, on=["q_id", "t_id"], how="left")
    return (joined.groupBy("q_id")
            .agg(F.count("_hit").cast("long").alias("n_hit"))
            .withColumn("recall",
                        F.col("n_hit").cast("double") / F.lit(float(ANN_K))))


def q_ann_cosine(spark, sf_dir):
    q, t = _ann_inputs(spark, sf_dir)
    return similarity.cosine_topk(q, t, k=ANN_K)


def q_ann_lsh(spark, sf_dir):
    """Banded sign-random-projection ANN, portable mode: hash-derived
    hyperplanes + left-fold projections make every stage (signatures,
    bucket join, exact-cosine rerank) DuckDB-reproducible, so this
    approximate operator is content-oracled, not rows-only. Band
    geometry (LSH_BITS/LSH_BANDS) is tuned for measured recall ~0.92 on
    the synthetic embeddings; at scale you widen bands for selectivity
    (the numpy fast path in signature_udf takes the same knobs)."""
    q, t = _ann_inputs(spark, sf_dir)
    return similarity.ann_topk(q, t, k=ANN_K, dim=EMB_DIM,
                               bits=LSH_BITS, bands=LSH_BANDS,
                               portable=True,
                               max_bucket=LSH_MAX_BUCKET)


def q_ann_recall(spark, sf_dir):
    """recall@k of the LSH ANN against the exact cosine top-k — the
    quality number the approximate path is graded on. Deterministic
    (hash planes + deterministic embeddings), hence fully oracled."""
    return _recall(q_ann_cosine(spark, sf_dir), q_ann_lsh(spark, sf_dir))


def q_ann_ivf(spark, sf_dir):
    """IVF-flat ANN — the coarse-quantizer scale path next to LSH:
    deterministic k-means (init = first IVF_K vec_ids, IVF_ITERS Lloyd
    rounds with sorted-fold means), probe IVF_PROBE nearest centroids,
    exact-cosine rerank. Every float op is mirrored op-for-op by the
    DuckDB oracle, so the approximate operator is fully content-
    oracled (similarity.ivf_topk docstring has the parity contract)."""
    q, t = _ann_inputs(spark, sf_dir)
    return similarity.ivf_topk(q, t, k=ANN_K, k_clusters=IVF_K,
                               probe=IVF_PROBE, iters=IVF_ITERS)


def q_ann_ivf_recall(spark, sf_dir):
    """recall@k of the IVF probe search vs the exact cosine top-k."""
    return _recall(q_ann_cosine(spark, sf_dir), q_ann_ivf(spark, sf_dir))


def q_media_meta(spark, sf_dir):
    """Multimodal binary column: typed header parse + resize/
    frame-sample plan over a MIXED media corpus — real PNG (IHDR) and
    JPEG (marker-walked SOF0) headers plus the fake video container,
    cycling by doc_id % 3. Fully oracled: blob dimensions are planted
    from the shared SQL arithmetic, so the oracle predicts the parsed
    output without reconstructing any bytes (operators/media.py
    docstring has the full-codec slot)."""
    from .operators import media
    P.register_views(spark, sf_dir, tables=("documents",))
    df = spark.sql(
        f"SELECT doc_id, {P.media_blob_mixed(sg.SPARK)} AS media "
        f"FROM documents")
    return media.media_meta(df)


def q_lang_stats(spark, sf_dir):
    d = _documents(spark, sf_dir).select("doc_id", "text")
    out = textstats.quality_score(d)
    out = textstats.stopword_scores(out)
    return out.select("doc_id", "n_chars", "n_tokens", "avg_token_len",
                      "digit_ratio", "punct_ratio", "quality",
                      *[f"sw_{lang}" for lang in textstats.STOPWORDS],
                      "lang_guess")


def q_fingerprint(spark, sf_dir):
    d = _documents(spark, sf_dir).select("doc_id", "text")
    return textstats.fingerprint(d).select("doc_id", "fingerprint")


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------

def _documents_stream(spark, sf_dir):
    """The documents parquet as a file stream. A file-stream source
    needs a directory, so the parquet is exposed through a stable
    symlink directory (read-only testdata stays untouched)."""
    import hashlib
    import os
    src = f"{sf_dir}/documents.parquet"
    tag = hashlib.sha1(src.encode()).hexdigest()[:12]
    sdir = f"/tmp/gz_stream_{tag}"
    os.makedirs(sdir, exist_ok=True)
    link = f"{sdir}/documents.parquet"
    if not os.path.exists(link):
        os.symlink(os.path.realpath(src), link)
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).parquet(sdir)


def q_streaming_cell_counts(spark, sf_dir):
    """Structured Streaming ingest of the documents feed -> pages
    synthesis -> decode -> cell aggregation, run to completion with an
    availableNow trigger into a memory sink. Deterministic, so it shares
    the batch oracle."""
    import uuid
    pts = (_documents_stream(spark, sf_dir)
           .selectExpr(f"{P.URL} AS url", f"{P.TEXT} AS text")
           .withColumn("geom", cols.point_struct_from_wkt_jvm(
               F.regexp_extract("text", LOC_RE, 1)))
           .withColumn("lon", cols.point_x(F.col("geom")) / F.lit(100.0))
           .withColumn("lat", cols.point_y(F.col("geom")) / F.lit(100.0)))
    pts = cols.with_cell_col(pts, "lon", "lat", CELL_RES_COARSE,
                             out="cell")
    agg = pts.groupBy("cell").agg(F.count("*").alias("n_pages"))
    name = "cells_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name)


def q_streaming_windowed(spark, sf_dir):
    """Event-time tumbling-window aggregation with a watermark over the
    streaming pages feed (warc_ts is the event time): the late-data
    pattern a 10^12-row crawl ingest needs. Deterministic input -> the
    window truncation is SQL-reproducible; the watermark DROP semantics
    are exercised with genuinely late micro-batches in
    tests/test_spark_layer.py::test_streaming_watermark_drops_late."""
    import uuid
    pages = _documents_stream(spark, sf_dir).selectExpr(
        f"{P.URL} AS url", P._warc_ts(sg.SPARK) + " AS warc_ts", "lang")
    agg = (pages
           .withWatermark("warc_ts", "1 hour")
           .groupBy(F.window("warc_ts", "1 hour").alias("win"), "lang")
           .agg(F.count("*").alias("n_pages")))
    name = "wins_" + uuid.uuid4().hex[:8]
    q = (agg.writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select(
        F.unix_timestamp("win.start").cast("long").alias("win_start"),
        "lang", F.col("n_pages").cast("long").alias("n_pages"))


QUERIES = {
    "extract_text": q_extract_text,
    "wkt_roundtrip": q_wkt_roundtrip,
    "geojson_encode": q_geojson_encode,
    "wkb_roundtrip": q_wkb_roundtrip,
    "tm_roundtrip": q_tm_roundtrip,
    "zones_encode": q_zones_encode,
    "html_meta": q_html_meta,
    "cell_assign": q_cell_assign,
    "cell_counts": q_cell_counts,
    "pip_join": q_pip_join,
    "pip_counts": q_pip_counts,
    "knn": q_knn,
    "tile_assign": q_tile_assign,
    "tile_cover": q_tile_cover,
    "tessellate": q_tessellate,
    "gpx_decode": q_gpx_decode,
    "shp_decode": q_shp_decode,
    "fgb_decode": q_fgb_decode,
    "fgb_ranged_decode": q_fgb_ranged_decode,
    "gpkg_decode": q_gpkg_decode,
    "gpkg_dir_decode": q_gpkg_dir_decode,
    "mvt_tiles": q_mvt_tiles,
    "mvt_feature_counts": q_mvt_feature_counts,
    "mvt_content": q_mvt_content,
    "bounds_agg": q_bounds_agg,
    "bbox_select": q_bbox_select,
    "exact_dedup": q_exact_dedup,
    "exact_dedup_verified": q_exact_dedup_verified,
    "minhash_sigs": q_minhash_sigs,
    "minhash_pairs": q_minhash_pairs,
    "near_dup": q_near_dup,
    "dup_clusters": q_dup_clusters,
    "simhash": q_simhash,
    "ngram_pairs": q_ngram_pairs,
    "ann_cosine": q_ann_cosine,
    "ann_lsh": q_ann_lsh,
    "ann_recall": q_ann_recall,
    "ann_ivf": q_ann_ivf,
    "ann_ivf_recall": q_ann_ivf_recall,
    "media_meta": q_media_meta,
    "lang_stats": q_lang_stats,
    "fingerprint": q_fingerprint,
    "streaming_cell_counts": q_streaming_cell_counts,
    "streaming_windowed": q_streaming_windowed,
    "svg_encode": q_svg_encode,
    "rasterize": q_rasterize,
    "vectorize": q_vectorize,
    "raster_tiles": q_raster_tiles,
    "raster_content": q_raster_content,
}
