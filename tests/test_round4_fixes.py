"""Round-4 fixes: hash-keyed exact dedup (the text column must never be
the shuffle key), ngram bucket guard, robust IVF seeding, and multi-row
zone handling in pip_join (both paths)."""

import pytest
from pyspark.sql import functions as F

from geozero_spark.operators import dedup
from geozero_spark.operators import similarity as sim


# --------------------------------------------------------------------------
# exact_dedup
# --------------------------------------------------------------------------

_DOCS = [
    (1, "alpha"), (2, "beta"), (3, "alpha"), (4, "gamma"),
    (5, "beta"), (6, "delta"), (7, "alpha"), (8, ""),
    (9, ""), (10, "epsilon zeta"),
]


def _expected_dedup(rows):
    by_text = {}
    for k, t in rows:
        by_text.setdefault(t, []).append(k)
    return sorted((min(ks), len(ks)) for ks in by_text.values())


def _got(df):
    return sorted((r.keep_doc_id, r.n_dups) for r in df.collect())


def test_exact_dedup_matches_text_grouping(spark):
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    exp = _expected_dedup(_DOCS)
    assert _got(dedup.exact_dedup(df)) == exp
    assert _got(dedup.exact_dedup(df, fast=True)) == exp
    assert _got(dedup.exact_dedup(df, verify=True)) == exp
    assert _got(dedup.exact_dedup(df, fast=True, verify=True)) == exp


def test_exact_dedup_shuffles_hash_not_text(spark):
    """The exchange key must be the hash columns — the raw text payload
    must not ride the shuffle (the 100 TB scale-shape fix)."""
    df = spark.createDataFrame(_DOCS, "doc_id long, text string")
    out = dedup.exact_dedup(df, fast=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    part = [ln for ln in plan.splitlines()
            if "hashpartitioning" in ln]
    assert part, plan
    for ln in part:
        assert "_h1" in ln and "_h2" in ln, ln
        assert "text" not in ln, ln


# --------------------------------------------------------------------------
# ngram bucket guard
# --------------------------------------------------------------------------

def test_ngram_degenerate_bucket_bounded(spark):
    # 40 same-length docs (one glen bucket) + one true pair elsewhere:
    # with max_bucket=10 the degenerate bucket contributes NO pairs but
    # the operator still runs and finds pairs in kept buckets
    big = [(i, "identical boilerplate rides every page of this site")
           for i in range(40)]
    good = [(100, "a quick brown fox jumps over the lazy dog"),
            (101, "a quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(big + good, "doc_id long, text string")
    got = dedup.ngram_jaccard_pairs(df, threshold=0.9, max_bucket=10)
    pairs = {(r.doc_id_a, r.doc_id_b) for r in got.collect()}
    assert pairs == {(100, 101)}
    # unguarded: the degenerate bucket's near-identical docs DO pair
    ung = dedup.ngram_jaccard_pairs(df, threshold=0.9, max_bucket=None)
    assert len(ung.collect()) > 1


# --------------------------------------------------------------------------
# IVF seeding
# --------------------------------------------------------------------------

def _emb(spark, ids, dim=4):
    rows = [(i, [float((i * 7 + j * 3) % 11) + 0.5 for j in range(dim)])
            for i in ids]
    return spark.createDataFrame(rows, "t_id long, tvec array<float>")


def test_ivf_fit_offset_keys(spark):
    # keys 1000..1019: the old `key < k` predicate seeded ZERO centroids
    t = _emb(spark, range(1000, 1020))
    c = sim.ivf_fit(t, k_clusters=4, iters=1)
    rows = c.collect()
    assert len(rows) == 4
    assert all(len(r.cvec) == 4 for r in rows)


def test_ivf_fit_too_few_raises(spark):
    t = _emb(spark, range(3))
    with pytest.raises(ValueError, match="need >= 8"):
        sim.ivf_fit(t, k_clusters=8)


def test_ivf_topk_offset_keys_end_to_end(spark):
    t = _emb(spark, range(500, 530))
    q = _emb(spark, range(500, 506)).withColumnRenamed(
        "t_id", "q_id").withColumnRenamed("tvec", "qvec")
    out = sim.ivf_topk(q, t, k=3, k_clusters=4, probe=2, iters=1)
    rows = out.collect()
    assert rows
    assert {r.q_id for r in rows} <= set(range(500, 506))
    assert all(1 <= r.rank <= 3 for r in rows)


# --------------------------------------------------------------------------
# pip_join multi-row zones
# --------------------------------------------------------------------------

def _dup_zone_fixture(spark):
    from geozero_spark.kernel import structrepr as sr, wkt as kwkt

    pa = sr.to_struct(kwkt.decode("POLYGON((0 0,4 0,4 4,0 4,0 0))"))
    pb = sr.to_struct(kwkt.decode("POLYGON((10 10,14 10,14 14,10 14,"
                                  "10 10))"))
    polys = spark.createDataFrame(
        [(7, pa), (7, pb), (8, pa)],
        f"zone_id long, poly struct<{sr.GEOMETRY_DDL}>")
    pts = spark.createDataFrame(
        [("in_a", 1.0, 1.0), ("in_b", 11.0, 11.0),
         ("out", 40.0, 40.0)],
        "url string, lon double, lat double")
    return pts, polys


def test_pip_duplicate_poly_key_raises_by_default(spark):
    pts, polys = _dup_zone_fixture(spark)
    from geozero_spark.operators import pip_join as pj
    with pytest.raises(ValueError, match="unique_polys=False"):
        pj.pip_join(pts, polys, res=4).collect()
    with pytest.raises(Exception, match="unique_polys=False"):
        # shuffle path: the error surfaces from the cogrouped UDF
        pj.pip_join(pts, polys, res=4,
                    broadcast_polys=False).collect()


def test_pip_multirow_zone_any_semantics(spark, monkeypatch):
    """unique_polys=False: containment in ANY of the zone's polygon
    rows, exactly one output row per (point, zone); the last case
    forces the shuffle path's cover-cell prefilter."""
    pts, polys = _dup_zone_fixture(spark)
    from geozero_spark.operators import pip_join as pj

    exp = [("in_a", 7), ("in_a", 8), ("in_b", 7)]
    default = pj._PREFILTER_AUTO_BYTES
    for auto_bytes, kw in ((default, dict()),
                           (default, dict(broadcast_polys=False)),
                           (default, dict(broadcast_polys=False, salt=2)),
                           (0, dict(broadcast_polys=False))):
        monkeypatch.setattr(pj, "_PREFILTER_AUTO_BYTES", auto_bytes)
        got = sorted((r.url, r.zone_id) for r in
                     pj.pip_join(pts, polys, res=4, unique_polys=False,
                                 **kw).collect())
        assert got == exp, (auto_bytes, kw)


# --------------------------------------------------------------------------
# real-format media headers
# --------------------------------------------------------------------------

def _png(w, h):
    import struct as st
    return (b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR"
            + st.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
            + b"\x00\x00\x00\x00")


def _jpeg(w, h, extra_segments=True):
    import struct as st
    out = b"\xff\xd8"
    if extra_segments:
        out += b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00" + bytes(9)
        out += b"\xff\xdb" + st.pack(">H", 67) + bytes(65)  # DQT
    out += (b"\xff\xc0" + st.pack(">H", 17) + b"\x08"
            + st.pack(">HH", h, w) + b"\x03\x01\x22\x00\x02\x11\x01"
            + b"\x03\x11\x01")
    return out + b"\xff\xd9"


def test_media_header_parsers_planted_dims():
    from geozero_spark.operators.media import _jpeg_dims, _png_dims

    assert _png_dims(_png(640, 480)) == (640, 480)
    assert _png_dims(_png(1, 70000)) == (1, 70000)  # >u16 dims
    assert _png_dims(_png(640, 480)[:20]) is None   # truncated
    bad = bytearray(_png(9, 9))
    bad[12:16] = b"XXXX"                            # IHDR not first
    assert _png_dims(bytes(bad)) is None

    assert _jpeg_dims(_jpeg(800, 600)) == (800, 600)
    assert _jpeg_dims(_jpeg(31, 17, extra_segments=False)) == (31, 17)
    assert _jpeg_dims(_jpeg(800, 600)[:8]) is None  # truncated pre-SOF
    assert _jpeg_dims(b"\xff\xd8\xff\xd9") is None  # no SOF
    # progressive (SOF2) also carries dims
    prog = _jpeg(12, 34).replace(b"\xff\xc0", b"\xff\xc2")
    assert _jpeg_dims(prog) == (12, 34)


def test_media_meta_mixed_blobs(spark):
    """media_meta over hand-built PNG/JPEG/fake blobs in one batch:
    planted dims come back typed; garbage stays NULL."""
    from geozero_spark.operators import media

    rows = [
        (1, bytearray(_png(320, 200))),
        (2, bytearray(_jpeg(640, 360))),
        (3, bytearray(b"VID1;w=100;h=50;f=4;pppp")),
        (4, bytearray(b"\x00garbage")),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, media binary")
    got = {r.doc_id: r for r in media.media_meta(df).collect()}
    assert (got[1].kind, got[1].width, got[1].height,
            got[1].n_frames) == ("PNG", 320, 200, 1)
    assert got[1].payload_len == len(_png(320, 200))
    assert (got[2].kind, got[2].width, got[2].height,
            got[2].n_frames) == ("JPEG", 640, 360, 1)
    assert (got[3].kind, got[3].width, got[3].height, got[3].n_frames,
            got[3].payload_len) == ("VID1", 100, 50, 4, 4)
    # thumbnail math applies to stills: 320x200 -> 64x40
    assert (got[1].thumb_w, got[1].thumb_h) == (64, 40)
    assert got[4].kind is None and got[4].width is None
    assert got[5].kind is None


def test_media_blob_synthesis_cross_engine(spark, duck):
    """pages.media_blob_mixed is dual-dialect SQL: Spark and DuckDB
    must synthesize byte-identical blobs for the same doc_ids."""
    from geozero_spark.functions import sqlgen as sg
    from geozero_spark.sources import pages as P

    s = spark.sql(
        f"SELECT doc_id, {P.media_blob_mixed(sg.SPARK)} AS b "
        f"FROM range(12) t(doc_id) ORDER BY doc_id"
    ).collect()
    d = duck.sql(
        f"SELECT doc_id, {P.media_blob_mixed('duckdb')} AS b "
        f"FROM range(12) t(doc_id) ORDER BY doc_id").fetchall()
    for (sid, sb), (did, db) in zip(s, d):
        assert sid == did
        assert bytes(sb) == bytes(db), sid
    # and the planted lengths hold
    assert len(bytes(s[1][1])) == P.PNG_BLOB_LEN
    assert len(bytes(s[2][1])) == P.JPEG_BLOB_LEN


def test_jpeg_fill_bytes_before_marker():
    """0xFF fill bytes consume ONE byte each (ITU T.81 B.1.1.2): an
    odd-length fill run must not desync the marker walk."""
    from geozero_spark.operators.media import _jpeg_dims

    base = _jpeg(320, 200)
    for fills in (1, 2, 3):
        padded = base[:2] + b"\xff" * fills + base[2:]
        assert _jpeg_dims(padded) == (320, 200), fills


def test_write_fgb_empty_dataframe(spark, tmp_path):
    """An empty DataFrame writes a valid header-only .fgb."""
    import os

    from geozero_spark.kernel import fgb, structrepr as sr
    from geozero_spark.sources import readers
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [], f"fid long, geom struct<{sr.GEOMETRY_DDL}>")
    path = os.path.join(str(tmp_path), "empty.fgb")
    readers.write_fgb(df, path, name="empty")
    buf = open(path, "rb").read()
    info = fgb.read_info(buf)
    assert info.features_count == 0
    assert list(fgb.iter_features(buf)) == []
