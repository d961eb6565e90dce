"""Deterministic synthetic web-pages + zones tables (dual-dialect SQL).

The driver mandate (BASELINE.json input_hint) is an Iceberg-style table
of Common-Crawl-style web pages ``(url, warc_ts, html, text, lang)``
with geometries embedded in page payloads, and a per-url byte-identical
extracted-text invariant versus the reference pipeline. We synthesize
that table deterministically FROM the driver's ``documents`` parquet via
a single SQL text valid in BOTH Spark SQL and DuckDB — the oracle then
reconstructs every expected value from the same arithmetic, so the
"byte-identical extracted text per url" check is exact, not approximate.

Design notes for exact cross-engine agreement:

- Embedded coordinates are INTEGER centi-degrees (the engine divides by
  100 after decode — the columnar analogue of geozero's coordinate
  transform `pre_process_xy`, geozero/src/wrap.rs:5-54). Integer-to-
  string casts are identical across engines; float formatting is not.
- Page points get EVEN centi-coords while zone centers/radii are ODD, so
  the L1 distance (even) can never equal a radius (odd): point-in-zone
  has no boundary ties, and the float ray-cast verdict provably matches
  the integer oracle predicate.
- ~20% of pages are clustered into 3 hot spots (inside zones 1/6/11) to
  exercise hot-cell skew handling (salting, AQE skew join) — the skew
  the north rule requires us to kill at 10^12-row scale.
"""

from __future__ import annotations

from ..functions import sqlgen as sg

# --- page point location (centi-degrees, always even) ---------------------
_LON_BASE = "(2 * ((doc_id * 7919) % 18000) - 18000)"
_LAT_BASE = "(2 * ((doc_id * 104729) % 9000) - 9000)"
_JX = "(2 * ((doc_id * 31) % 50))"
_JY = "(2 * ((doc_id * 17) % 50))"

# hot spots sit inside zones 1, 6 and 11 (see ZONES_* below)
LON_C = ("(CASE WHEN doc_id % 5 = 0 THEN "
         f"(CASE doc_id % 15 WHEN 0 THEN 1300 WHEN 5 THEN -9200 "
         f"ELSE 14300 END) + {_JX} "
         f"ELSE {_LON_BASE} END)")
LAT_C = ("(CASE WHEN doc_id % 5 = 0 THEN "
         f"(CASE doc_id % 15 WHEN 0 THEN 6700 WHEN 5 THEN 200 "
         f"ELSE -6300 END) + {_JY} "
         f"ELSE {_LAT_BASE} END)")

# --- embedded WKT snippets (pure int-to-string concat) ---------------------
_S = "CAST({} AS STRING)"


def _i(e: str) -> str:
    return _S.format(e)


LOC_WKT = f"('POINT(' || {_i(LON_C)} || ' ' || {_i(LAT_C)} || ')')"

_LS_WKT = (f"('LINESTRING(' || {_i(LON_C)} || ' ' || {_i(LAT_C)} || ',' || "
           f"{_i(f'{LON_C} + 100')} || ' ' || {_i(f'{LAT_C} + 50')} || ',' || "
           f"{_i(f'{LON_C} + 200')} || ' ' || {_i(LAT_C)} || ')')")

_PG_WKT = (f"('POLYGON((' || "
           f"{_i(f'{LON_C} + 305')} || ' ' || {_i(LAT_C)} || ',' || "
           f"{_i(LON_C)} || ' ' || {_i(f'{LAT_C} + 305')} || ',' || "
           f"{_i(f'{LON_C} - 305')} || ' ' || {_i(LAT_C)} || ',' || "
           f"{_i(LON_C)} || ' ' || {_i(f'{LAT_C} - 305')} || ',' || "
           f"{_i(f'{LON_C} + 305')} || ' ' || {_i(LAT_C)} || '))')")

GEO_WKT = (f"(CASE doc_id % 4 WHEN 1 THEN {_LS_WKT} "
           f"WHEN 2 THEN {_PG_WKT} ELSE NULL END)")

GEO_PART = (f"(CASE WHEN doc_id % 4 IN (1, 2) "
            f"THEN ' geo:' || {GEO_WKT} || ';' ELSE '' END)")

URL = ("('https://example' || CAST(doc_id % 100 AS STRING) || "
       "'.org/page/' || CAST(doc_id AS STRING))")

TEXT = (f"('GeoPage ' || {URL} || ' lang=' || lang || "
        f"' loc:' || {LOC_WKT} || ';' || {GEO_PART} || "
        f"' body: ' || text)")

_WARC_EPOCH = 1767225600  # 2026-01-01T00:00:00Z


def _warc_ts(d: str) -> str:
    if d == sg.SPARK:
        return f"timestamp_seconds({_WARC_EPOCH} + doc_id)"
    return f"CAST(to_timestamp({_WARC_EPOCH} + doc_id) AS TIMESTAMP)"


def _html(d: str, text_expr: str) -> str:
    body = (f"('<html><head><title>' || {URL} || '</title></head><body><p>' "
            f"|| {text_expr} || '</p></body></html>')")
    return f"encode({body}, 'UTF-8')" if d == sg.SPARK else f"encode({body})"


def pages_sql(d: str, documents: str = "documents") -> str:
    """SELECT producing the pages table (url, warc_ts, html, text, lang)."""
    return (f"SELECT {URL} AS url, {_warc_ts(d)} AS warc_ts, "
            f"{_html(d, TEXT)} AS html, {TEXT} AS text, lang "
            f"FROM {documents}")


# --- zones: diamond polygons keyed by nation (centers/radii odd) -----------
CX_C = "(((n_nationkey * 1543) % 340 - 170) * 100 + 51)"
CY_C = "(((n_nationkey * 787) % 160 - 80) * 100 + 51)"
R_C = "(601 + (n_nationkey % 7) * 100)"

ZONE_WKT = (f"('POLYGON((' || "
            f"{_i(f'{CX_C} + {R_C}')} || ' ' || {_i(CY_C)} || ',' || "
            f"{_i(CX_C)} || ' ' || {_i(f'{CY_C} + {R_C}')} || ',' || "
            f"{_i(f'{CX_C} - {R_C}')} || ' ' || {_i(CY_C)} || ',' || "
            f"{_i(CX_C)} || ' ' || {_i(f'{CY_C} - {R_C}')} || ',' || "
            f"{_i(f'{CX_C} + {R_C}')} || ' ' || {_i(CY_C)} || '))')")


# donut variant: same outer diamond + an interior diamond hole (odd
# radius < outer) — exercises interior-ring handling (tessellator)
HR_C = "(201 + (n_nationkey % 3) * 100)"

ZONE_DONUT_WKT = (f"('POLYGON((' || "
                  f"{_i(f'{CX_C} + {R_C}')} || ' ' || {_i(CY_C)} || ',' || "
                  f"{_i(CX_C)} || ' ' || {_i(f'{CY_C} + {R_C}')} || ',' || "
                  f"{_i(f'{CX_C} - {R_C}')} || ' ' || {_i(CY_C)} || ',' || "
                  f"{_i(CX_C)} || ' ' || {_i(f'{CY_C} - {R_C}')} || ',' || "
                  f"{_i(f'{CX_C} + {R_C}')} || ' ' || {_i(CY_C)} || '),(' || "
                  f"{_i(f'{CX_C} + {HR_C}')} || ' ' || {_i(CY_C)} || ',' || "
                  f"{_i(CX_C)} || ' ' || {_i(f'{CY_C} + {HR_C}')} || ',' || "
                  f"{_i(f'{CX_C} - {HR_C}')} || ' ' || {_i(CY_C)} || ',' || "
                  f"{_i(CX_C)} || ' ' || {_i(f'{CY_C} - {HR_C}')} || ',' || "
                  f"{_i(f'{CX_C} + {HR_C}')} || ' ' || {_i(CY_C)} || '))')")


# --- GPX document per page (waypoint + one-track + one-route) --------------
# Integer-valued lat/lon attributes parse to exact doubles, so the
# decoded coords cast back to the generator's centi-degree ints.
GPX_XML = (
    f"('<gpx><wpt lat=\"' || {_i(LAT_C)} || '\" lon=\"' || {_i(LON_C)} || "
    f"'\"></wpt>"
    f"<trk><trkseg>"
    f"<trkpt lat=\"' || {_i(f'{LAT_C} + 50')} || '\" lon=\"' || "
    f"{_i(f'{LON_C} + 100')} || '\"></trkpt>"
    f"<trkpt lat=\"' || {_i(LAT_C)} || '\" lon=\"' || "
    f"{_i(f'{LON_C} + 200')} || '\"></trkpt>"
    f"</trkseg></trk>"
    f"<rte><rtept lat=\"' || {_i(f'{LAT_C} - 50')} || '\" lon=\"' || "
    f"{_i(f'{LON_C} - 100')} || '\"></rtept></rte>"
    f"</gpx>')")


# --- fake media container per page (multimodal-column plumbing) ------------
# A deterministic text-framed "video" blob: parseable header + payload,
# shared SQL text so the oracle reconstructs every derived value from
# the same arithmetic. Real codecs are opaque binary the same way; the
# container here is fake, the Spark-side plumbing (binary column,
# Arrow-batched header parse, resize/sample math) is the real thing.
MEDIA_W = "(doc_id % 320 + 16)"
MEDIA_H = "(doc_id % 200 + 16)"
MEDIA_F = "(doc_id % 7 + 1)"

_MEDIA_TXT = (f"('VID1;w=' || {_i(MEDIA_W)} || ';h=' || {_i(MEDIA_H)} || "
              f"';f=' || {_i(MEDIA_F)} || ';' || repeat('p', {MEDIA_F}))")


def media_blob(d: str) -> str:
    if d == sg.SPARK:
        return f"encode({_MEDIA_TXT}, 'UTF-8')"
    return f"encode({_MEDIA_TXT})"


# --- real-format still images (PNG IHDR / JPEG SOF0 headers) ---------------
# REAL bytes per the public specs, dimensions planted from the shared
# MEDIA_W/MEDIA_H arithmetic so the oracle predicts the parsed output
# without reconstructing the blob. PNG: signature + IHDR (w,h u32be,
# 8-bit RGB, zeroed CRC — header parsers don't checksum). JPEG: SOI +
# a standard 16-byte JFIF APP0 (so the parser must WALK markers, not
# peek a fixed offset) + SOF0 (h,w u16be, 3 components) + EOI.
PNG_BLOB_LEN = 33   # 8 sig + 8 IHDR hdr + 13 data + 4 crc
JPEG_BLOB_LEN = 41  # SOI + (2+16) APP0 + (2+17) SOF0 + EOI


def _hex4(e: str, d: str) -> str:
    fn = "hex" if d == sg.SPARK else "to_hex"
    return f"lpad({fn}({e}), 4, '0')"


def _hex8(e: str, d: str) -> str:
    fn = "hex" if d == sg.SPARK else "to_hex"
    return f"lpad({fn}({e}), 8, '0')"


def _png_hex(d: str) -> str:
    return ("('89504E470D0A1A0A' || '0000000D' || '49484452' || "
            f"{_hex8(MEDIA_W, d)} || {_hex8(MEDIA_H, d)} || "
            "'0802000000' || '00000000')")


def _jpeg_hex(d: str) -> str:
    return ("('FFD8' || 'FFE00010' || '4A46494600' || '0101' || '00' "
            "|| '0001' || '0001' || '0000' || 'FFC00011' || '08' || "
            f"{_hex4(MEDIA_H, d)} || {_hex4(MEDIA_W, d)} || "
            "'03' || '012200' || '021101' || '031101' || 'FFD9')")


def media_blob_mixed(d: str) -> str:
    """Per-page media blob cycling fake video / PNG / JPEG by
    doc_id % 3 — the multi-format corpus media_meta types."""
    unhex = "unhex" if d == sg.SPARK else "from_hex"
    return (f"(CASE doc_id % 3 WHEN 1 THEN {unhex}({_png_hex(d)}) "
            f"WHEN 2 THEN {unhex}({_jpeg_hex(d)}) "
            f"ELSE {media_blob(d)} END)")


# --- XYZM coordinate lanes: per-doc 3-point LINESTRING ZM -------------------
# Z/M values are small integers derived from doc_id so they format
# identically across engines and their sums cast back to exact BIGINTs.
Z1_C = "(doc_id % 97)"
M1_C = "(doc_id % 89 + 1)"

_TM_PTS = (
    f"{_i(LON_C)} || ' ' || {_i(LAT_C)} || ' ' || "
    f"{_i(Z1_C)} || ' ' || {_i(M1_C)} || ',' || "
    f"{_i(f'{LON_C} + 100')} || ' ' || {_i(f'{LAT_C} + 50')} || ' ' || "
    f"{_i(f'{Z1_C} + 5')} || ' ' || {_i(f'{M1_C} * 2')} || ',' || "
    f"{_i(f'{LON_C} + 200')} || ' ' || {_i(LAT_C)} || ' ' || "
    f"{_i(f'{Z1_C} + 9')} || ' ' || {_i(f'{M1_C} * 3')}")

# input carries the explicit ZM dimension tag (wkt reader form);
# the writer re-emits the untagged 4-wide form (wkt writer parity).
TM_WKT_IN = f"('LINESTRING ZM(' || {_TM_PTS} || ')')"
TM_WKT_OUT = f"('LINESTRING(' || {_TM_PTS} || ')')"


def zones_sql(d: str, nation: str = "nation") -> str:
    """SELECT producing the zones table (zone_id, zone_name, zone_wkt)."""
    return (f"SELECT CAST(n_nationkey AS BIGINT) AS zone_id, "
            f"n_name AS zone_name, {ZONE_WKT} AS zone_wkt "
            f"FROM {nation}")


# --- Spark-side loaders -----------------------------------------------------

def register_views(spark, sf_dir: str, tables=("documents", "nation")):
    for t in tables:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def pages_df(spark, sf_dir: str, clones: int = 1):
    """The pages DataFrame. ``clones > 1`` tiles the table deterministically
    (distinct urls, shifted coords) for bench-scale runs — clone expansion
    happens BEFORE payload synthesis so every clone re-runs the full
    extract/decode path. Oracle-checked queries always use clones=1."""
    register_views(spark, sf_dir)
    if clones == 1:
        return spark.sql(pages_sql(sg.SPARK))
    from pyspark.sql import functions as F
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    # clone via range x broadcast-docs: spark.range is evenly pre-
    # partitioned, so every task GENERATES its own slice of clones in
    # parallel. (An explode over the 1-2 source parquet tasks serializes
    # the whole blow-up through those tasks and nothing downstream of
    # the no-shuffle pipelines — decode, broadcast PIP join, tile
    # assign — can run wider than that. Measured: 32 cores ran no
    # faster than 8 until this was fixed.)
    par = spark.sparkContext.defaultParallelism * 2
    clone_ids = spark.range(0, clones, 1, min(clones, par)) \
        .withColumnRenamed("id", "clone")
    docs = (clone_ids.join(F.broadcast(docs))
            .withColumn("doc_id",
                        F.col("doc_id") + F.col("clone") * F.lit(n_docs))
            .drop("clone"))
    docs.createOrReplaceTempView("documents")
    return spark.sql(pages_sql(sg.SPARK))


def zones_df(spark, sf_dir: str):
    register_views(spark, sf_dir)
    return spark.sql(zones_sql(sg.SPARK))


def donut_zones_sql(d: str, nation: str = "nation") -> str:
    """SELECT producing zones with an interior ring (zone_id, donut_wkt)."""
    return (f"SELECT CAST(n_nationkey AS BIGINT) AS zone_id, "
            f"{ZONE_DONUT_WKT} AS donut_wkt FROM {nation}")


def donut_zones_df(spark, sf_dir: str):
    register_views(spark, sf_dir)
    return spark.sql(donut_zones_sql(sg.SPARK))
