"""DuckDB oracle SQL for every entry in queries.QUERIES.

Each oracle reconstructs the expected output from the same deterministic
arithmetic the pages/zones synthesis uses (sources/pages.py), with
float operations mirrored operation-for-operation so doubles are
bit-identical (e.g. the engine scales polygon coords by *0.01 — the
oracle multiplies too; points divide by 100 — so does the oracle).

Queries with no oracle (probabilistic ANN recall, binary MVT sink) are
intentionally absent -> the driver records a rows-only check.
"""

from __future__ import annotations

from .functions import sqlgen as sg
from .functions import texthash as th
from .operators import textstats
from .sources import pages as P
from . import queries as Q

D = sg.DUCKDB

# shared arithmetic (documents -> point/geom facts)
_PTS = (f"SELECT doc_id, {P.URL} AS url, lang, "
        f"{P.LON_C} AS xc, {P.LAT_C} AS yc, doc_id % 4 AS kind "
        f"FROM documents")

_ZS = (f"SELECT CAST(n_nationkey AS BIGINT) AS zone_id, n_name AS "
       f"zone_name, {P.CX_C} AS cx, {P.CY_C} AS cy, {P.R_C} AS r "
       f"FROM nation")

_GEO_BBOX = """
SELECT url, doc_id,
  CASE kind WHEN 1 THEN xc WHEN 2 THEN xc - 305 END AS bx0,
  CASE kind WHEN 1 THEN yc WHEN 2 THEN yc - 305 END AS by0,
  CASE kind WHEN 1 THEN xc + 200 WHEN 2 THEN xc + 305 END AS bx1,
  CASE kind WHEN 1 THEN yc + 50 WHEN 2 THEN yc + 305 END AS by1,
  CASE kind WHEN 1 THEN 3 WHEN 2 THEN 5 END AS ncoords
FROM pts WHERE kind IN (1, 2)
"""


def _with(*cte_pairs) -> str:
    body = ", ".join(f"{name} AS ({sql})" for name, sql in cte_pairs)
    return f"WITH {body} "


_W = _with(("pts", _PTS), ("zs", _ZS), ("geo", _GEO_BBOX))


def _i(e: str) -> str:
    return f"CAST({e} AS STRING)"


def _geojson_point(x: str, y: str) -> str:
    return ("'{\"type\": \"Point\", \"coordinates\": ['"
            f" || {_i(x)} || ',' || {_i(y)} || ']}}'")


ORACLES: dict[str, str] = {}

# --- format / codec --------------------------------------------------------

ORACLES["extract_text"] = (
    f"SELECT {P.URL} AS url, {P.LOC_WKT} AS loc_wkt, "
    f"{P.GEO_WKT} AS geo_wkt FROM documents")

ORACLES["wkt_roundtrip"] = (
    f"SELECT {P.URL} AS url, {P.LOC_WKT} AS loc_rt, "
    f"{P.GEO_WKT} AS geo_rt, "
    f"CAST(CASE doc_id % 4 WHEN 1 THEN 3 WHEN 2 THEN 5 END AS INTEGER) "
    f"AS geo_npoints FROM documents")

_LS_JSON = (
    "'{\"type\": \"LineString\", \"coordinates\": [['"
    " || CAST(xc AS STRING) || ',' || CAST(yc AS STRING) || '],['"
    " || CAST(xc + 100 AS STRING) || ',' || CAST(yc + 50 AS STRING) ||"
    " '],[' || CAST(xc + 200 AS STRING) || ',' || CAST(yc AS STRING) ||"
    " ']]}'")
_PG_JSON = (
    "'{\"type\": \"Polygon\", \"coordinates\": [[['"
    " || CAST(xc + 305 AS STRING) || ',' || CAST(yc AS STRING) || '],['"
    " || CAST(xc AS STRING) || ',' || CAST(yc + 305 AS STRING) || '],['"
    " || CAST(xc - 305 AS STRING) || ',' || CAST(yc AS STRING) || '],['"
    " || CAST(xc AS STRING) || ',' || CAST(yc - 305 AS STRING) || '],['"
    " || CAST(xc + 305 AS STRING) || ',' || CAST(yc AS STRING) ||"
    " ']]]}'")

ORACLES["geojson_encode"] = _W + (
    f"SELECT url, {_geojson_point('xc', 'yc')} AS loc_json, "
    f"CASE kind WHEN 1 THEN {_LS_JSON} WHEN 2 THEN {_PG_JSON} END "
    f"AS geo_json FROM pts")

ORACLES["wkb_roundtrip"] = _W + (
    "SELECT url, CAST(xc AS BIGINT) AS x_c, CAST(yc AS BIGINT) AS y_c, "
    "CAST(4326 AS INTEGER) AS srid FROM pts")

_Z_WKT_CR = (
    "'POLYGON((' || CAST(cx + r AS STRING) || ' ' || CAST(cy AS STRING)"
    " || ',' || CAST(cx AS STRING) || ' ' || CAST(cy + r AS STRING)"
    " || ',' || CAST(cx - r AS STRING) || ' ' || CAST(cy AS STRING)"
    " || ',' || CAST(cx AS STRING) || ' ' || CAST(cy - r AS STRING)"
    " || ',' || CAST(cx + r AS STRING) || ' ' || CAST(cy AS STRING)"
    " || '))'")
_Z_JSON = (
    "'{\"type\": \"Polygon\", \"coordinates\": [[['"
    " || CAST(cx + r AS STRING) || ',' || CAST(cy AS STRING) || '],['"
    " || CAST(cx AS STRING) || ',' || CAST(cy + r AS STRING) || '],['"
    " || CAST(cx - r AS STRING) || ',' || CAST(cy AS STRING) || '],['"
    " || CAST(cx AS STRING) || ',' || CAST(cy - r AS STRING) || '],['"
    " || CAST(cx + r AS STRING) || ',' || CAST(cy AS STRING) ||"
    " ']]]}'")

ORACLES["tm_roundtrip"] = (
    f"SELECT {P.URL} AS url, {P.TM_WKT_OUT} AS tm_rt, "
    f"TRUE AS has_z, TRUE AS has_m, "
    f"CAST(3 * {P.Z1_C} + 14 AS BIGINT) AS z_sum, "
    f"CAST(6 * {P.M1_C} AS BIGINT) AS m_sum FROM documents")

ORACLES["zones_encode"] = _with(("zs", _ZS)) + (
    f"SELECT zone_id, zone_name, {_Z_WKT_CR} AS wkt_rt, "
    f"'SRID=4326;' || {_Z_WKT_CR} AS ewkt, "
    f"{_Z_JSON} AS geojson, "
    f"{_Z_WKT_CR} || ',' || zone_name || "
    f"',' || CAST(zone_id AS STRING) AS csv_row FROM zs")

ORACLES["html_meta"] = (
    f"SELECT {P.URL} AS url, "
    f"CAST(octet_length({P._html(D, P.TEXT)}) AS BIGINT) AS html_bytes, "
    f"{P.URL} AS title FROM documents")

# --- spatial ---------------------------------------------------------------

_LON = "(xc / 100.0e0)"
_LAT = "(yc / 100.0e0)"

_CELL8 = sg.cell_id(_LON, _LAT, Q.CELL_RES, D)
_CELL6 = sg.cell_id(_LON, _LAT, Q.CELL_RES_COARSE, D)

ORACLES["cell_assign"] = _W + (
    f"SELECT url, {_CELL8} AS cell, "
    f"{sg.cell_parent(_CELL8, Q.CELL_RES, Q.CELL_RES - Q.CELL_RES_COARSE, D)} "
    f"AS cell_coarse FROM pts")

ORACLES["cell_counts"] = _W + (
    f"SELECT {_CELL6} AS cell, CAST(COUNT(*) AS BIGINT) AS n_pages, "
    f"CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs "
    f"FROM pts GROUP BY 1")

ORACLES["pip_join"] = _W + (
    "SELECT url, zone_id FROM pts, zs "
    "WHERE abs(xc - cx) + abs(yc - cy) <= r")

ORACLES["pip_counts"] = _W + (
    "SELECT zone_id, zone_name, CAST(COUNT(*) AS BIGINT) AS n_points "
    "FROM pts, zs WHERE abs(xc - cx) + abs(yc - cy) <= r "
    "GROUP BY zone_id, zone_name")

ORACLES["knn"] = _W + f"""
, cand AS (
  SELECT q.doc_id AS q_id, t.doc_id AS t_id,
    (CAST(t.xc AS BIGINT) - CAST(q.xc AS BIGINT))
      * (CAST(t.xc AS BIGINT) - CAST(q.xc AS BIGINT))
    + (CAST(t.yc AS BIGINT) - CAST(q.yc AS BIGINT))
      * (CAST(t.yc AS BIGINT) - CAST(q.yc AS BIGINT)) AS dist2
  FROM pts q, pts t
  WHERE q.doc_id % {Q.QUERY_MOD} = 0 AND q.doc_id != t.doc_id
)
SELECT q_id, t_id, dist2,
  CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist2, t_id)
    AS INTEGER) AS rank
FROM cand
QUALIFY rank <= {Q.KNN_K}
"""

_EX, _EY = sg.tile_xy_eq(_LON, _LAT, Q.TILE_Z)
_WX, _WY = sg.tile_xy_wm(_LON, _LAT, Q.TILE_Z)

ORACLES["tile_assign"] = _W + (
    f"SELECT url, {_EX} AS ex, {_EY} AS ey, "
    f"{sg.quadkey(_EX, _EY, Q.TILE_Z, D)} AS quadkey, "
    f"{_WX} AS wx, {_WY} AS wy FROM pts")


def _tx_eq(e: str, z: int) -> str:
    nx = 2 << z
    return sg.clamp(sg.ibigint(
        f"(({e}) + {sg.f64(180.0)}) / {sg.f64(360.0)} * {nx}"),
        "0", str(nx - 1))


def _ty_eq(e: str, z: int) -> str:
    ny = 1 << z
    return sg.clamp(sg.ibigint(
        f"({sg.f64(90.0)} - ({e})) / {sg.f64(180.0)} * {ny}"),
        "0", str(ny - 1))


# engine scales geometry coords by *0.01 (scale_flat); mirror exactly
ORACLES["tile_cover"] = _W + f"""
SELECT url, x, y FROM (
  SELECT url,
    {_tx_eq('bx0 * 0.01e0', Q.COVER_Z)} AS x0,
    {_tx_eq('bx1 * 0.01e0', Q.COVER_Z)} AS x1,
    {_ty_eq('by1 * 0.01e0', Q.COVER_Z)} AS y0,
    {_ty_eq('by0 * 0.01e0', Q.COVER_Z)} AS y1
  FROM geo
) g, unnest(range(g.x0, g.x1 + 1)) t(x), unnest(range(g.y0, g.y1 + 1)) s(y)
"""

ORACLES["bounds_agg"] = _W + """
SELECT min(bx0 * 0.01e0) AS xmin, min(by0 * 0.01e0) AS ymin,
       max(bx1 * 0.01e0) AS xmax, max(by1 * 0.01e0) AS ymax,
       CAST(COUNT(*) AS BIGINT) AS n_features,
       CAST(SUM(ncoords) AS BIGINT) AS n_coords
FROM geo
"""

ORACLES["bbox_select"] = _W + (
    f"SELECT url, {_LON} AS lon, {_LAT} AS lat FROM pts "
    f"WHERE {_LON} >= {sg.f64(Q.BBOX[0])} AND {_LON} <= {sg.f64(Q.BBOX[2])} "
    f"AND {_LAT} >= {sg.f64(Q.BBOX[1])} AND {_LAT} <= {sg.f64(Q.BBOX[3])}")

# --- training-data pipeline ------------------------------------------------

# mirrors dedup.exact_dedup(fast=False): GROUP BY the two-seed portable
# text hash of the 40-char prefix, never the raw text (the scale-shape
# fix — the payload must not be the shuffle key). The char-code array is
# shared via a CTE column like the Spark side's materialized _cc.
_dd_cc = th.char_codes("prefix", D)
ORACLES["exact_dedup"] = (
    "WITH h AS (SELECT doc_id, "
    f"{th.fold_hash(_dd_cc, D, seed=th.SEED)} AS h1, "
    f"{th.fold_hash(_dd_cc, D, seed=101)} AS h2 "
    "FROM (SELECT doc_id, substr(text, 1, 40) AS prefix FROM documents)) "
    "SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_dups FROM h GROUP BY h1, h2")

# the verified path's oracle is GROUND TRUTH (exact text grouping):
# together with exact_dedup's hash-grouped oracle the pair pins both
# sides of the hash-then-verify design
ORACLES["exact_dedup_verified"] = (
    "SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id, "
    "CAST(COUNT(*) AS BIGINT) AS n_dups FROM documents "
    "GROUP BY substr(text, 1, 40)")


def _sig_sql(text: str, num_perm: int) -> list[str]:
    toks = th.tokens(text, D)
    sh = th.word_shingles(toks, 3, D)
    hashes = th.hash_array(sh, D)
    return [th.minhash_perm(hashes, 2 * j + 3, (j * 2654435761) % th.P, D)
            for j in range(num_perm)]


_sig8 = _sig_sql("text", Q.SIG_SHOW)
ORACLES["minhash_sigs"] = (
    "SELECT doc_id, " + ", ".join(
        f"{s} AS mh{i}" for i, s in enumerate(_sig8))
    + " FROM documents")

_rows = Q.NUM_PERM // Q.BANDS
_band_folds = [
    th.fold_hash(f"list_slice(sig, {b * _rows + 1}, {(b + 1) * _rows})",
                 D, seed=b + 11)
    for b in range(Q.BANDS)]
_band_case = ("CASE " + " ".join(
    f"WHEN band = {b} THEN {bf}" for b, bf in enumerate(_band_folds))
    + " END")

ORACLES["minhash_pairs"] = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, replace(text, 'the ', '') FROM documents
), sigs AS (
  SELECT doc_id,
         [{', '.join(_sig_sql('text', Q.NUM_PERM))}] AS sig
  FROM docs WHERE length({th.tokens('text', D)}) > 0
), buckets AS (
  SELECT doc_id, band, {_band_case} AS bucket
  FROM sigs, unnest(range(0, {Q.BANDS})) t(band)
), kept AS (
  SELECT * FROM buckets
  QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000
)
SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
FROM kept a JOIN kept b USING (band, bucket)
WHERE a.doc_id < b.doc_id
"""

_tok_hashes = th.hash_array(th.tokens("text", D), D)
_ones = (f"list_transform(range(0, 48), b -> "
         f"CAST(list_sum(list_transform(_h, h -> (h >> b) & 1)) "
         f"AS BIGINT))")
_sim = (f"CAST(list_sum(list_transform(range(0, 48), b -> "
        f"CASE WHEN _ones[b + 1] * 2 >= length(_h) "
        f"THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)) "
        f"AS BIGINT)")

ORACLES["simhash"] = f"""
WITH h AS (SELECT doc_id, {_tok_hashes} AS _h FROM documents),
o AS (SELECT doc_id, _h, {_ones} AS _ones FROM h)
SELECT doc_id, {_sim} AS simhash FROM o
"""

_grams = f"list_distinct({th.char_ngrams('text', 3, D)})"
# lossless glen blocking (geometric buckets, base 1/t): J >= t forces
# glen ratio >= t, so eligible pairs are same-or-adjacent buckets.
# ln() ulp differences vs Spark are harmless — each engine's blocking
# is independently lossless and the exact jaccard filter decides.
ORACLES["ngram_pairs"] = f"""
WITH g AS (
  SELECT doc_id, {_grams} AS grams,
         length({_grams}) AS glen,
         CAST(floor(ln(greatest(length({_grams}), 1)) /
              ln(CAST({1.0 / Q.JACCARD_T!r} AS DOUBLE))) AS BIGINT)
           AS bucket
  FROM documents
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
  CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
    / CAST(a.glen + b.glen
           - length(list_intersect(a.grams, b.grams)) AS DOUBLE) AS jaccard
FROM g a JOIN g b
  ON abs(a.bucket - b.bucket) <= 1 AND a.doc_id < b.doc_id
WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
    / CAST(a.glen + b.glen
           - length(list_intersect(a.grams, b.grams)) AS DOUBLE)
    >= {sg.f64(Q.JACCARD_T)}
"""

_dotq = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
         "list_transform(range(1, length(q.embedding) + 1), i -> "
         "CAST(q.embedding[i] AS DOUBLE) * CAST(t.embedding[i] AS DOUBLE)"
         ")), (acc, v) -> acc + v)")


def _norm2(side: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, length({side}.embedding) + 1), "
            f"i -> CAST({side}.embedding[i] AS DOUBLE) * "
            f"CAST({side}.embedding[i] AS DOUBLE))), "
            f"(acc, v) -> acc + v)")


ORACLES["ann_cosine"] = f"""
WITH cand AS (
  SELECT q.vec_id AS q_id, t.vec_id AS t_id,
    {_dotq} / (sqrt({_norm2('q')}) * sqrt({_norm2('t')})) AS cosine
  FROM embeddings q, embeddings t
  WHERE q.vec_id % {Q.QUERY_MOD} = 0 AND q.vec_id != t.vec_id
)
SELECT q_id, t_id, cosine,
  CAST(row_number() OVER (PARTITION BY q_id
       ORDER BY cosine DESC, t_id) AS INTEGER) AS rank
FROM cand
QUALIFY rank <= {Q.ANN_K}
"""


def _ann_lsh_ctes() -> str:
    """CTE chain replicating the portable LSH pipeline
    (operators/similarity.srp_band_buckets_sql + ann_topk portable
    mode) verbatim in DuckDB: hash-plane band buckets -> bucket join ->
    distinct candidates -> exact-cosine rerank."""
    from .operators import similarity as sim
    exprs = sim.srp_band_buckets_sql(
        "embedding", Q.EMB_DIM, Q.LSH_BITS, Q.LSH_BANDS, 42, D)
    return f"""
sq AS (
  SELECT vec_id, embedding,
         unnest([{', '.join(exprs)}]) AS bucket
  FROM embeddings
),
tcap AS (
  -- mirror of ann_topk's max_bucket: band buckets whose TARGET
  -- population exceeds the cap contribute no candidates
  SELECT bucket FROM sq GROUP BY bucket
  HAVING COUNT(*) <= {Q.LSH_MAX_BUCKET}
),
lcand AS (
  SELECT DISTINCT q.vec_id AS q_id, t.vec_id AS t_id
  FROM (SELECT * FROM sq WHERE vec_id % {Q.QUERY_MOD} = 0) q
  JOIN (SELECT * FROM sq WHERE bucket IN (SELECT bucket FROM tcap)) t
  USING (bucket)
  WHERE q.vec_id != t.vec_id
),
lsh_topk AS (
  SELECT q_id, t_id, cosine,
    CAST(row_number() OVER (PARTITION BY q_id
         ORDER BY cosine DESC, t_id) AS INTEGER) AS rank
  FROM (
    SELECT c.q_id, c.t_id,
      {_dotq} / (sqrt({_norm2('q')}) * sqrt({_norm2('t')})) AS cosine
    FROM lcand c
    JOIN embeddings q ON q.vec_id = c.q_id
    JOIN embeddings t ON t.vec_id = c.t_id
  )
  QUALIFY rank <= {Q.ANN_K}
)"""


ORACLES["ann_lsh"] = f"""
WITH {_ann_lsh_ctes()}
SELECT q_id, t_id, cosine, rank FROM lsh_topk
"""

def _cos_vs_cvec(vside: str, cside: str) -> str:
    """Mirror of the Spark SQL fold tests/test_similarity.py
    ``_cos_vs_centroid`` (the reference similarity._assign is pinned
    against): dot/norm folds in array order from 0.0, so the doubles
    are bit-identical."""
    dot = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
           f"list_transform(range(1, length({vside}.embedding) + 1), "
           f"i -> CAST({vside}.embedding[i] AS DOUBLE) * "
           f"{cside}.cvec[i])), (acc, v) -> acc + v)")
    cn = (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
          f"list_transform({cside}.cvec, x -> x * x)), "
          f"(acc, v) -> acc + v)")
    return f"{dot} / (sqrt({_norm2(vside)}) * sqrt({cn}))"


def _ann_ivf_ctes() -> str:
    """CTE chain replicating similarity.ivf_fit/ivf_topk verbatim:
    centroid init from the first IVF_K vec_ids, IVF_ITERS Lloyd rounds
    (assignment = argmax cosine with (cos DESC, cid) tie-break;
    per-dim means fold in ascending vec_id order from 0.0 — the exact
    dual of array_sort(collect_list)+aggregate), then probe + exact
    rerank."""
    parts = [
        f"c0 AS (SELECT CAST(vec_id AS BIGINT) AS cid, "
        f"list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec "
        f"FROM embeddings ORDER BY vec_id LIMIT {Q.IVF_K})"]
    for it in range(Q.IVF_ITERS):
        cos = _cos_vs_cvec("t", "c")
        parts.append(f"""
a{it} AS (
  SELECT vec_id, cid FROM (
    SELECT t.vec_id, c.cid,
      row_number() OVER (PARTITION BY t.vec_id
                         ORDER BY {cos} DESC, c.cid) AS rk
    FROM embeddings t, c{it} c) WHERE rk = 1
)""")
        parts.append(f"""
p{it} AS (
  SELECT a.cid, t.vec_id AS tk,
         generate_subscripts(t.embedding, 1) AS pos,
         unnest(t.embedding) AS val
  FROM a{it} a JOIN embeddings t ON t.vec_id = a.vec_id
)""")
        parts.append(f"""
m{it} AS (
  SELECT cid, pos,
    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      list(CAST(val AS DOUBLE) ORDER BY tk)), (acc, v) -> acc + v)
      / CAST(COUNT(*) AS DOUBLE) AS m
  FROM p{it} GROUP BY cid, pos
)""")
        parts.append(f"c{it + 1} AS (SELECT cid, list(m ORDER BY pos) "
                     f"AS cvec FROM m{it} GROUP BY cid)")
    fin = f"c{Q.IVF_ITERS}"
    cos_t = _cos_vs_cvec("t", "c")
    cos_q = _cos_vs_cvec("q", "c")
    parts.append(f"""
ta AS (
  SELECT vec_id AS t_id, cid FROM (
    SELECT t.vec_id, c.cid,
      row_number() OVER (PARTITION BY t.vec_id
                         ORDER BY {cos_t} DESC, c.cid) AS rk
    FROM embeddings t, {fin} c) WHERE rk = 1
)""")
    parts.append(f"""
qp AS (
  SELECT vec_id AS q_id, cid FROM (
    SELECT q.vec_id, c.cid,
      row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY {cos_q} DESC, c.cid) AS rk
    FROM (SELECT * FROM embeddings
          WHERE vec_id % {Q.QUERY_MOD} = 0) q, {fin} c)
  WHERE rk <= {Q.IVF_PROBE}
)""")
    parts.append(f"""
ivf_topk AS (
  SELECT q_id, t_id, cosine,
    CAST(row_number() OVER (PARTITION BY q_id
         ORDER BY cosine DESC, t_id) AS INTEGER) AS rank
  FROM (
    SELECT c.q_id, c.t_id,
      {_dotq} / (sqrt({_norm2('q')}) * sqrt({_norm2('t')})) AS cosine
    FROM (SELECT qp.q_id, ta.t_id FROM qp JOIN ta USING (cid)
          WHERE qp.q_id != ta.t_id) c
    JOIN embeddings q ON q.vec_id = c.q_id
    JOIN embeddings t ON t.vec_id = c.t_id
  )
  QUALIFY rank <= {Q.ANN_K}
)""")
    return ",\n".join(parts)


ORACLES["ann_ivf"] = f"""
WITH {_ann_ivf_ctes()}
SELECT q_id, t_id, cosine, rank FROM ivf_topk
"""

ORACLES["ann_ivf_recall"] = f"""
WITH {_ann_ivf_ctes()},
exact_topk AS (
  SELECT q_id, t_id FROM (
    SELECT q.vec_id AS q_id, t.vec_id AS t_id,
      CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
        {_dotq} / (sqrt({_norm2('q')}) * sqrt({_norm2('t')})) DESC,
        t.vec_id) AS INTEGER) AS rank
    FROM embeddings q, embeddings t
    WHERE q.vec_id % {Q.QUERY_MOD} = 0 AND q.vec_id != t.vec_id
  ) WHERE rank <= {Q.ANN_K}
)
SELECT e.q_id,
  CAST(COUNT(l.t_id) AS BIGINT) AS n_hit,
  CAST(COUNT(l.t_id) AS DOUBLE) / {sg.f64(float(Q.ANN_K))} AS recall
FROM exact_topk e
LEFT JOIN ivf_topk l ON e.q_id = l.q_id AND e.t_id = l.t_id
GROUP BY e.q_id
"""

ORACLES["ann_recall"] = f"""
WITH {_ann_lsh_ctes()},
exact_topk AS (
  SELECT q_id, t_id FROM (
    SELECT q.vec_id AS q_id, t.vec_id AS t_id,
      CAST(row_number() OVER (PARTITION BY q.vec_id ORDER BY
        {_dotq} / (sqrt({_norm2('q')}) * sqrt({_norm2('t')})) DESC,
        t.vec_id) AS INTEGER) AS rank
    FROM embeddings q, embeddings t
    WHERE q.vec_id % {Q.QUERY_MOD} = 0 AND q.vec_id != t.vec_id
  ) WHERE rank <= {Q.ANN_K}
)
SELECT e.q_id,
  CAST(COUNT(l.t_id) AS BIGINT) AS n_hit,
  CAST(COUNT(l.t_id) AS DOUBLE) / {sg.f64(float(Q.ANN_K))} AS recall
FROM exact_topk e
LEFT JOIN lsh_topk l ON e.q_id = l.q_id AND e.t_id = l.t_id
GROUP BY e.q_id
"""

_MW, _MH, _MF = P.MEDIA_W, P.MEDIA_H, P.MEDIA_F
# mixed-format corpus (pages.media_blob_mixed, doc_id % 3 cycle):
# PNG/JPEG stills are single-frame with payload_len = whole blob size
# (fixed: header-only fixtures); dims come from the same planted
# arithmetic for every format
_MFE = f"(CASE WHEN doc_id % 3 = 0 THEN {_MF} ELSE 1 END)"
ORACLES["media_meta"] = f"""
SELECT doc_id,
  CASE doc_id % 3 WHEN 1 THEN 'PNG' WHEN 2 THEN 'JPEG'
       ELSE 'VID1' END AS kind,
  CAST({_MW} AS INTEGER) AS width,
  CAST({_MH} AS INTEGER) AS height,
  CAST({_MFE} AS INTEGER) AS n_frames,
  CAST(greatest(1, ({_MW} * 64) // greatest({_MW}, {_MH}))
       AS INTEGER) AS thumb_w,
  CAST(greatest(1, ({_MH} * 64) // greatest({_MW}, {_MH}))
       AS INTEGER) AS thumb_h,
  CAST(least({_MFE}, 3) AS INTEGER) AS n_sampled,
  CAST(CASE least({_MFE}, 3)
       WHEN 1 THEN 0
       WHEN 2 THEN {_MFE} // 2
       ELSE ({_MFE} // 3) + ((2 * {_MFE}) // 3) END AS BIGINT)
    AS sample_sum,
  CAST(CASE doc_id % 3 WHEN 1 THEN {P.PNG_BLOB_LEN}
       WHEN 2 THEN {P.JPEG_BLOB_LEN}
       ELSE {_MF} END AS INTEGER) AS payload_len
FROM documents
"""

_toksd = th.tokens("text", D)
_sw_cols = []
for _lang, _words in textstats.STOPWORDS.items():
    _lit = "[" + ", ".join("'" + w + "'" for w in _words) + "]"
    _sw_cols.append(
        f"CAST(length(list_intersect(list_distinct("
        f"{th.tokens('lower(text)', D)}), {_lit})) AS INTEGER) "
        f"AS sw_{_lang}")
_order = list(textstats.STOPWORDS)
_best = "CASE "
for _lang in _order:
    _others = " AND ".join(
        f"sw_{_lang} >= sw_{o}" for o in _order if o != _lang)
    _best += f"WHEN {_others} THEN '{_lang}' "
_best += "END"

ORACLES["lang_stats"] = f"""
WITH s AS (
  SELECT doc_id,
    CAST(length(text) AS INTEGER) AS n_chars,
    CAST(length({_toksd}) AS INTEGER) AS n_tokens,
    CAST(length(replace(text, ' ', '')) AS DOUBLE)
      / greatest(length({_toksd}), 1) AS avg_token_len,
    CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
      / greatest(length(text), 1) AS digit_ratio,
    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
      / greatest(length(text), 1) AS punct_ratio,
    {', '.join(_sw_cols)}
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, avg_token_len, digit_ratio,
  punct_ratio,
  least(CAST(n_tokens AS DOUBLE) / 64.0e0, 1.0e0) * 0.5e0
    + (1.0e0 - least(digit_ratio * 4.0e0, 1.0e0)) * 0.25e0
    + (CASE WHEN avg_token_len >= 3.0e0 AND avg_token_len <= 9.0e0
       THEN 0.25e0 ELSE 0.0e0 END) AS quality,
  {', '.join(f'sw_{lang}' for lang in _order)},
  {_best} AS lang_guess
FROM s
"""

ORACLES["fingerprint"] = (
    f"SELECT doc_id, {th.text_hash('text', D)} AS fingerprint "
    f"FROM documents")

ORACLES["streaming_cell_counts"] = _W + (
    f"SELECT {_CELL6} AS cell, CAST(COUNT(*) AS BIGINT) AS n_pages "
    f"FROM pts GROUP BY 1")


# --- svg / raster<->vector --------------------------------------------------

def _neg(e: str) -> str:
    return f"CAST(-({e}) AS STRING)"


_SVG_PATH = (
    "'<path d=\"M ' || CAST(cx + r AS STRING) || ' ' || " + _neg("cy")
    + " || ' ' || CAST(cx AS STRING) || ' ' || " + _neg("cy + r")
    + " || ' ' || CAST(cx - r AS STRING) || ' ' || " + _neg("cy")
    + " || ' ' || CAST(cx AS STRING) || ' ' || " + _neg("cy - r")
    + " || ' ' || CAST(cx + r AS STRING) || ' ' || " + _neg("cy")
    + " || ' Z \"/>'")

ORACLES["svg_encode"] = _with(("zs", _ZS)) + (
    f"SELECT zone_id, {_SVG_PATH} AS svg FROM zs")


def _pixel_exprs(z: int, grid: int):
    import math
    dz = int(math.log2(grid))
    x, y = sg.tile_xy_eq(_LON, _LAT, z)
    fx, fy = sg.tile_xy_eq(_LON, _LAT, z + dz)
    return x, y, f"(({fx}) % {grid})", f"(({fy}) % {grid})"


_RX, _RY, _RPX, _RPY = _pixel_exprs(Q.RASTER_Z, Q.RASTER_GRID)

ORACLES["rasterize"] = _W + (
    f"SELECT {Q.RASTER_Z} AS z, {_RX} AS x, {_RY} AS y, "
    f"{_RPX} AS px, {_RPY} AS py, CAST(COUNT(*) AS BIGINT) AS n "
    f"FROM pts GROUP BY 2, 3, 4, 5")

# decoded-blob invariants (queries.q_raster_content): the engine reads
# them back out of the binary grid; the oracle rebuilds them from the
# same pixel-count arithmetic as ORACLES["rasterize"]
ORACLES["raster_content"] = _W + f"""
, px_counts AS (
  SELECT {Q.RASTER_Z} AS z, {_RX} AS x, {_RY} AS y,
         {_RPX} AS px, {_RPY} AS py, CAST(COUNT(*) AS BIGINT) AS n
  FROM pts GROUP BY 2, 3, 4, 5
)
SELECT z, x, y,
  CAST(SUM(n) AS BIGINT) AS pixel_sum,
  CAST(SUM(n * (py * {Q.RASTER_GRID} + px)) AS BIGINT) AS wsum,
  CAST(COUNT(*) FILTER (WHERE n > 0) AS BIGINT) AS nnz
FROM px_counts
GROUP BY z, x, y
"""


def _vectorize_sql() -> str:
    import math
    z, grid, scale = Q.RASTER_Z, Q.RASTER_GRID, Q.RASTER_SCALE
    dz = int(math.log2(grid))
    nx, ny = 2 << (z + dz), 1 << (z + dz)
    w = 360 * scale // nx
    h = 180 * scale // ny
    fx = f"(x * {grid} + px)"
    fy = f"(y * {grid} + py)"
    x0 = f"({fx} * {w} - {180 * scale})"
    x1 = f"(({fx} + 1) * {w} - {180 * scale})"
    y1 = f"({90 * scale} - {fy} * {h})"
    y0 = f"({90 * scale} - ({fy} + 1) * {h})"

    def s(e):
        return f"CAST({e} AS STRING)"

    wkt = (f"'POLYGON((' || {s(x0)} || ' ' || {s(y0)} || ',' || "
           f"{s(x1)} || ' ' || {s(y0)} || ',' || "
           f"{s(x1)} || ' ' || {s(y1)} || ',' || "
           f"{s(x0)} || ' ' || {s(y1)} || ',' || "
           f"{s(x0)} || ' ' || {s(y0)} || '))'")
    return _W + (
        f", px_counts AS (SELECT {z} AS z, {_RX} AS x, {_RY} AS y, "
        f"{_RPX} AS px, {_RPY} AS py, CAST(COUNT(*) AS BIGINT) AS n "
        f"FROM pts GROUP BY 2, 3, 4, 5) "
        f"SELECT z, x, y, px, py, n, {wkt} AS pixel_wkt "
        f"FROM px_counts WHERE n >= 1")


ORACLES["vectorize"] = _vectorize_sql()


# the MVT sink's per-tile feature count == the tile-cover cardinality
def _mvt_content_sql() -> str:
    """Content oracle for the decoded MVT sink (queries.q_mvt_content).

    Reconstructs, per covering tile, the decoded feature count, vertex
    count, and tile-space coordinate sums straight from the generator
    arithmetic + the MVT transform (mvt_writer.rs:157-173). Float op
    order mirrors the vectorized encoder (operators/mvt_fast /
    kernel.tiles.mvt_transform_np): tx = floor((px - left) * (extent /
    width)) — the multiply-by-precomputed-scale order, which is what the
    fast path computes in numpy.
    """
    z = Q.COVER_Z
    w = 360.0 / (2 << z)
    h = 180.0 / (1 << z)
    ext = 4096
    left = f"(-180.0e0 + x * {w!r}e0)"
    bottom = f"((90.0e0 - y * {h!r}e0) - {h!r}e0)"
    tx = (f"CAST(FLOOR((CAST(vx AS DOUBLE) * 0.01e0 - {left}) * "
          f"({ext}.0e0 / {w!r}e0)) AS BIGINT)")
    ry = (f"({ext} - CAST(FLOOR((CAST(vy AS DOUBLE) * 0.01e0 - {bottom}) * "
          f"({ext}.0e0 / {h!r}e0)) AS BIGINT))")
    # distinct encoded vertices: LINESTRING kind=1 has 3, the diamond
    # POLYGON kind=2 has 4 (closing coordinate dropped by the encoder)
    verts = """
SELECT url,
  vi,
  CASE kind WHEN 1 THEN
    (CASE vi WHEN 1 THEN xc WHEN 2 THEN xc + 100 ELSE xc + 200 END)
  ELSE
    (CASE vi WHEN 1 THEN xc + 305 WHEN 3 THEN xc - 305 ELSE xc END)
  END AS vx,
  CASE kind WHEN 1 THEN
    (CASE vi WHEN 2 THEN yc + 50 ELSE yc END)
  ELSE
    (CASE vi WHEN 2 THEN yc + 305 WHEN 4 THEN yc - 305 ELSE yc END)
  END AS vy
FROM pts, unnest(range(1, 1 + CASE kind WHEN 1 THEN 3 ELSE 4 END)) v(vi)
WHERE kind IN (1, 2)
"""
    cover = f"""
SELECT url, x, y FROM (
  SELECT url,
    {_tx_eq('bx0 * 0.01e0', z)} AS x0,
    {_tx_eq('bx1 * 0.01e0', z)} AS x1,
    {_ty_eq('by1 * 0.01e0', z)} AS y0,
    {_ty_eq('by0 * 0.01e0', z)} AS y1
  FROM geo
) g, unnest(range(g.x0, g.x1 + 1)) t(x), unnest(range(g.y0, g.y1 + 1)) s(y)
"""
    # typed-property mirror (queries.q_mvt_content props): int text
    # length, double half-length, string lang — counted once per
    # feature via the vi = 1 filter
    # pages.text is SYNTHESIZED (P.TEXT over documents), not the raw
    # documents.text — the length must be computed over the same
    # dialect-neutral expression the Spark pages view evaluates
    fprops = f"""
SELECT {P.URL} AS url, length({P.TEXT}) AS pid, lang AS plang
FROM documents
"""
    return _W + f""", verts AS ({verts}), cover AS ({cover}),
fprops AS ({fprops})
SELECT {z} AS z, x, y,
  CAST(COUNT(*) FILTER (WHERE vi = 1) AS INTEGER) AS n_features,
  CAST(COUNT(*) AS BIGINT) AS vtx_sum,
  CAST(SUM({tx}) AS BIGINT) AS sx_sum,
  CAST(SUM({ry}) AS BIGINT) AS sy_sum,
  CAST(SUM(pid) FILTER (WHERE vi = 1) AS BIGINT) AS prop_int_sum,
  CAST(SUM(CAST(pid AS DOUBLE) * 0.5e0) FILTER (WHERE vi = 1)
       AS DOUBLE) AS prop_float_sum,
  CAST(SUM(length(plang)) FILTER (WHERE vi = 1) AS BIGINT)
    AS prop_chars
FROM cover JOIN verts USING (url) JOIN fprops USING (url)
GROUP BY x, y
"""


ORACLES["mvt_content"] = _mvt_content_sql()


ORACLES["mvt_feature_counts"] = _W + f"""
SELECT {Q.COVER_Z} AS z, x, y, CAST(COUNT(*) AS INTEGER) AS n_features
FROM (
  SELECT url, x, y FROM (
    SELECT url,
      {_tx_eq('bx0 * 0.01e0', Q.COVER_Z)} AS x0,
      {_tx_eq('bx1 * 0.01e0', Q.COVER_Z)} AS x1,
      {_ty_eq('by1 * 0.01e0', Q.COVER_Z)} AS y0,
      {_ty_eq('by0 * 0.01e0', Q.COVER_Z)} AS y1
    FROM geo
  ) g, unnest(range(g.x0, g.x1 + 1)) t(x), unnest(range(g.y0, g.y1 + 1)) s(y)
) cover
GROUP BY x, y
"""


# tessellator invariants over donut zones: merged bridge chain has
# 4 + 4 + 2 vertices, n - 2 triangles, and filled doubled-area
# 4 * (r^2 - rh^2) in centi-degree^2 (exact integers end to end)
ORACLES["tessellate"] = f"""
SELECT CAST(n_nationkey AS BIGINT) AS zone_id,
  10 AS n_vertices,
  8 AS n_triangles,
  CAST(4 * ({P.R_C} * {P.R_C} - {P.HR_C} * {P.HR_C}) AS BIGINT) AS area2
FROM nation
"""


# GPX member order (gpx_reader.rs:26-43): waypoint Point, track
# MultiLineString (2 pts), routes MultiLineString (1 pt)
ORACLES["gpx_decode"] = _W + """
SELECT url, member_idx, kind, n_points, x0, y0 FROM (
  SELECT url, 0 AS member_idx, 1 AS kind, 1 AS n_points,
         CAST(xc AS BIGINT) AS x0, CAST(yc AS BIGINT) AS y0 FROM pts
  UNION ALL
  SELECT url, 1, 5, 2, CAST(xc + 100 AS BIGINT),
         CAST(yc + 50 AS BIGINT) FROM pts
  UNION ALL
  SELECT url, 2, 5, 1, CAST(xc - 100 AS BIGINT),
         CAST(yc - 50 AS BIGINT) FROM pts
)
"""


# shapefile record order == doc_id order (queries.q_shp_decode writes
# one Point record per document, 1-based record numbers)
ORACLES["shp_decode"] = """
SELECT CAST(row_number() OVER (ORDER BY doc_id) AS INTEGER) AS recno,
       CAST(xc AS BIGINT) AS x_c, CAST(yc AS BIGINT) AS y_c
FROM (SELECT doc_id,
""" + (f"{P.LON_C} AS xc, {P.LAT_C} AS yc FROM documents "
       f"ORDER BY doc_id LIMIT {Q.SHP_FIXTURE_CAP})")


# fgb fixture = one Point per document with doc_id as a property
# (queries.q_fgb_decode); the file's Hilbert feature order is absorbed
# by the order-insensitive compare
ORACLES["fgb_decode"] = (
    f"SELECT doc_id, CAST({P.LON_C} AS BIGINT) AS x_c, "
    f"CAST({P.LAT_C} AS BIGINT) AS y_c FROM documents "
    f"ORDER BY doc_id LIMIT {Q.SHP_FIXTURE_CAP}")

# the range-read scan decodes the SAME fixture split into byte ranges
ORACLES["fgb_ranged_decode"] = ORACLES["fgb_decode"]

# the gpkg fixture carries the same planted points (writer -> B-tree
# walker roundtrip); doc_id rides as a property
ORACLES["gpkg_decode"] = ORACLES["fgb_decode"]

# the partition-parallel dir sink carries the same planted points
# split over 4 per-partition containers; the directory scan reunions
# them and the order-insensitive compare absorbs the split
ORACLES["gpkg_dir_decode"] = ORACLES["fgb_decode"]


# event-time tumbling window: warc_ts = epoch + doc_id seconds; the
# 1-hour window start is integer floor division (all values positive)
ORACLES["streaming_windowed"] = """
SELECT CAST((1767225600 + doc_id) // 3600 * 3600 AS BIGINT) AS win_start,
       lang, CAST(COUNT(*) AS BIGINT) AS n_pages
FROM documents
GROUP BY 1, 2
"""


# LSH candidates -> exact n-gram Jaccard verify (the scale composition,
# queries.q_near_dup): the candidate CTEs replicate minhash_pairs, the
# verify reuses the exact gram arithmetic
_ND_GRAMS = f"list_distinct({th.char_ngrams('text', 3, D)})"
# CTE body shared by near_dup and dup_clusters (the clusters oracle
# appends a recursive closure over the verified pair set)
_ND_CTES = f"""docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000, replace(text, 'the ', '') FROM documents
), sigs AS (
  SELECT doc_id,
         [{', '.join(_sig_sql('text', Q.NUM_PERM))}] AS sig
  FROM docs WHERE length({th.tokens('text', D)}) > 0
), buckets AS (
  SELECT doc_id, band, {_band_case} AS bucket
  FROM sigs, unnest(range(0, {Q.BANDS})) t(band)
), kept AS (
  SELECT * FROM buckets
  QUALIFY COUNT(*) OVER (PARTITION BY band, bucket) <= 1000
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM kept a JOIN kept b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), g AS (
  SELECT doc_id, {_ND_GRAMS} AS grams,
         length({_ND_GRAMS}) AS glen
  FROM docs
), verified AS (
  SELECT c.doc_id_a, c.doc_id_b,
    CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(a.glen + b.glen
             - length(list_intersect(a.grams, b.grams)) AS DOUBLE)
      AS jaccard
  FROM cand c
  JOIN g a ON a.doc_id = c.doc_id_a
  JOIN g b ON b.doc_id = c.doc_id_b
  WHERE CAST(length(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / CAST(a.glen + b.glen
             - length(list_intersect(a.grams, b.grams)) AS DOUBLE)
      >= {sg.f64(Q.JACCARD_T)}
)"""

ORACLES["near_dup"] = (
    "WITH " + _ND_CTES
    + "\nSELECT doc_id_a, doc_id_b, jaccard FROM verified")


# pairs -> connected components -> per-doc cluster id (= MIN doc_id of
# the component) + canonical-survivor keep flag. The oracle computes
# the transitive closure over the SAME verified pair set with a
# recursive CTE (fine at oracle scale; the engine runs O(log n)
# large-star/small-star rounds instead — operators/dedup.py).
ORACLES["dup_clusters"] = (
    "WITH RECURSIVE " + _ND_CTES + """,
edges AS (
  SELECT doc_id_a AS u, doc_id_b AS v FROM verified
  UNION
  SELECT doc_id_b, doc_id_a FROM verified
), reach(u, v) AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT d.doc_id,
       CAST(LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) AS BIGINT)
         AS cluster_id,
       LEAST(d.doc_id, COALESCE(MIN(r.v), d.doc_id)) = d.doc_id AS keep
FROM docs d
LEFT JOIN reach r ON r.u = d.doc_id
GROUP BY d.doc_id
""")
