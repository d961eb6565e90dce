"""FlatGeobuf reader parity, pinned against the reference's own
countries.fgb fixture and its benchmark expectations
(geozero-bench/benches/geobench.rs: 179 features full scan; bbox
(8.8,47.2,9.5,55.3) -> 6 features)."""

import os

import pytest

from geozero_spark.kernel import fgb, wkt as kwkt
from geozero_spark.kernel.model import MULTIPOLYGON

FIX = os.path.join(os.path.dirname(__file__), "data", "fgb",
                   "countries.fgb")
BBOX = (8.8, 47.2, 9.5, 55.3)


def _buf():
    with open(FIX, "rb") as f:
        return f.read()


def test_header():
    info = fgb.read_info(_buf())
    assert info.name == "countries"
    assert info.geometry_type == 6          # MultiPolygon
    assert info.features_count == 179
    assert info.index_node_size == 16
    assert info.srid == 4326
    assert [c[0] for c in info.columns] == ["id", "name"]
    assert info.envelope[0] == -180.0 and info.envelope[2] == 180.0


def test_full_scan_179_multipolygons():
    feats = list(fgb.iter_features(_buf()))
    assert len(feats) == 179
    assert all(g.kind == MULTIPOLYGON for g, _ in feats)
    assert all(g.srid == 4326 for g, _ in feats)
    names = {p["name"] for _, p in feats}
    assert {"Antarctica", "Germany", "France", "Fiji"} <= names
    # geometry round-trips through the shared model/WKT writer
    w = kwkt.encode(feats[0][0])
    assert w.startswith("MULTIPOLYGON(((")


def test_bbox_select_matches_reference_count():
    hits = list(fgb.iter_features(_buf(), bbox=BBOX))
    assert len(hits) == 6
    assert sorted(p["id"] for _, p in hits) == [
        "AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]


def test_index_search_equals_brute_force_envelopes():
    """The R-tree search must return exactly the features whose
    envelope intersects the bbox — for several probe boxes."""
    buf = _buf()

    def envelope(g):
        xs, ys = [], []
        for poly in g.data:
            for ring in poly:
                for c in ring:
                    xs.append(c[0])
                    ys.append(c[1])
        return min(xs), min(ys), max(xs), max(ys)

    all_feats = list(fgb.iter_features(buf))
    for bbox in (BBOX, (-180.0, -90.0, 180.0, 90.0),
                 (0.0, 0.0, 1.0, 1.0), (170.0, 60.0, 180.0, 80.0),
                 (500.0, 500.0, 501.0, 501.0)):
        want = sorted(
            p["id"] for g, p in all_feats
            if (lambda e: not (e[2] < bbox[0] or e[3] < bbox[1]
                               or e[0] > bbox[2] or e[1] > bbox[3]))(
                envelope(g)))
        got = sorted(p["id"]
                     for _, p in fgb.iter_features(buf, bbox=bbox))
        assert got == want, bbox


def test_error_paths():
    with pytest.raises(fgb.FgbError, match="magic"):
        fgb.read_info(b"nope nope nope")
    with pytest.raises(fgb.FgbError):
        fgb.read_info(_buf()[:20])


def test_read_fgb_spark(spark):
    from geozero_spark.sources import readers
    d = os.path.dirname(FIX)
    df = readers.read_fgb(spark, d)
    rows = df.collect()
    assert len(rows) == 179
    assert all(r.geom.kind == MULTIPOLYGON for r in rows)
    assert all(r.geom.srid == 4326 for r in rows)
    byname = {r.props["name"]: r for r in rows}
    assert "Germany" in byname and "Fiji" in byname

    hits = readers.read_fgb(spark, d, bbox=BBOX).collect()
    assert sorted(r.props["id"] for r in hits) == [
        "AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]
    assert [r.feature_idx for r in hits] == list(range(6))


def test_bbox_fallback_without_index(monkeypatch):
    """bbox query on an unindexed file = sequential scan + envelope
    filter, same result set as the R-tree search (no hard failure)."""
    import dataclasses

    buf = _buf()
    bbox = (8.8, 47.2, 9.5, 55.3)
    indexed = [p.get("name") for g, p in fgb.iter_features(buf, bbox)]

    real_read_info = fgb.read_info

    def no_index(b):
        return dataclasses.replace(real_read_info(b), index_node_size=0)

    monkeypatch.setattr(fgb, "read_info", no_index)
    fallback = [p.get("name") for g, p in fgb.iter_features(buf, bbox)]
    assert sorted(fallback) == sorted(indexed) and len(indexed) == 6


def test_zm_files_refused_loudly():
    import dataclasses

    buf = _buf()
    real = fgb.read_info(buf)
    import pytest as _pytest
    for field in ("has_z", "has_m"):
        info3d = dataclasses.replace(real, **{field: True})
        orig = fgb.read_info
        try:
            fgb.read_info = lambda b: info3d
            with _pytest.raises(fgb.FgbError, match="Z/M"):
                list(fgb.iter_features(buf))
        finally:
            fgb.read_info = orig


# --------------------------------------------------------------------------
# writer (kernel/fgbwrite.py) — pinned against the repo's own reader and
# the reference's countries.fgb feature set
# --------------------------------------------------------------------------

from geozero_spark.kernel import fgbwrite, wkt as _kwkt  # noqa: E402


@pytest.fixture
def tmpdir_path(tmp_path):
    return str(tmp_path)


def test_write_roundtrip_countries():
    """Re-encode the features decoded from the reference's fixture and
    re-read with kernel/fgb.py: geometry + property parity, header
    fields, and index search agreement on the geobench bbox
    (geozero-bench/benches/geobench.rs:330-345)."""
    buf = _buf()
    feats = list(fgb.iter_features(buf))
    out = fgbwrite.encode(feats, name="countries")
    info = fgb.read_info(out)
    assert info.name == "countries"
    assert info.geometry_type == 6
    assert info.features_count == 179
    assert info.index_node_size == 16
    assert info.srid == 4326
    assert [c for c in info.columns] == [("id", 11), ("name", 11)]
    assert info.envelope[:1] == [-180.0]

    back = list(fgb.iter_features(out))
    assert len(back) == 179
    orig = {p["id"]: (_kwkt.encode(g), p) for g, p in feats}
    new = {p["id"]: (_kwkt.encode(g), p) for g, p in back}
    assert orig == new  # geometry (via WKT writer) + properties

    hits = sorted(p["id"] for _, p in fgb.iter_features(out, bbox=BBOX))
    assert hits == ["AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]


def test_written_index_equals_brute_force():
    """R-tree search over a WRITTEN file == brute-force envelope scan
    for several probe boxes (the invariant the reader's own index test
    pins, now on writer output)."""
    out = fgbwrite.encode(list(fgb.iter_features(_buf())))
    all_feats = list(fgb.iter_features(out))

    def envelope(g):
        xs = [c[0] for poly in g.data for ring in poly for c in ring]
        ys = [c[1] for poly in g.data for ring in poly for c in ring]
        return min(xs), min(ys), max(xs), max(ys)

    for bbox in (BBOX, (-180.0, -90.0, 180.0, 90.0),
                 (0.0, 0.0, 1.0, 1.0), (170.0, 60.0, 180.0, 80.0),
                 (500.0, 500.0, 501.0, 501.0)):
        want = sorted(
            p["id"] for g, p in all_feats
            if not (envelope(g)[2] < bbox[0] or envelope(g)[3] < bbox[1]
                    or envelope(g)[0] > bbox[2]
                    or envelope(g)[1] > bbox[3]))
        got = sorted(p["id"]
                     for _, p in fgb.iter_features(out, bbox=bbox))
        assert got == want, bbox


def test_write_mixed_kinds_and_property_types():
    from geozero_spark.kernel.model import Geom, POINT

    g1 = _kwkt_decode("POINT(1 2)")
    g2 = _kwkt_decode("LINESTRING(0 0,1 1,2 0)")
    g3 = _kwkt_decode("POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,1 2,1 1))")
    g4 = _kwkt_decode("MULTIPOINT(0 0,5 5)")
    g5 = _kwkt_decode("MULTILINESTRING((0 0,1 1),(2 2,3 3))")
    g6 = _kwkt_decode("MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))")
    g7 = _kwkt_decode(
        "GEOMETRYCOLLECTION(POINT(9 9),LINESTRING(0 0,1 1))")
    feats = [
        (g1, {"n": 1, "s": "one", "f": 1.5, "b": True, "raw": b"\x01\x02"}),
        (g2, {"n": 2, "s": "two", "f": -2.5, "b": False, "raw": b""}),
        (g3, {"n": 3, "s": "three"}),
        (g4, {"n": 4}), (g5, {"n": 5}), (g6, {"n": 6}), (g7, {"n": 7}),
    ]
    out = fgbwrite.encode(feats, srid=4326)
    info = fgb.read_info(out)
    assert info.geometry_type == 0  # mixed
    back = {p["n"]: (g, p) for g, p in fgb.iter_features(out)}
    assert len(back) == 7
    for i, (g, p) in enumerate(feats, 0):
        bg, bp = back[p["n"]]
        assert _kwkt.encode(bg) == _kwkt.encode(g)
        exp = {k: v for k, v in p.items()}
        # empty binary is written (zero-length value), None never stored
        assert bp == exp
        assert bg.srid == 4326


def test_write_null_geometry_falls_back_unindexed():
    g = _kwkt_decode("POINT(3 4)")
    out = fgbwrite.encode([(g, {"k": 1}), (None, {"k": 2})])
    info = fgb.read_info(out)
    assert info.index_node_size == 0  # no envelope for row 2
    back = list(fgb.iter_features(out))
    assert len(back) == 2
    assert back[0][0] is not None and back[1][0] is None
    # bbox query still works via the sequential-scan fallback
    hits = [p for _, p in fgb.iter_features(out, bbox=(0, 0, 10, 10))]
    assert [p["k"] for p in hits] == [1]


def test_write_many_points_index_search():
    """4096-feature written file (multi-level R-tree): search == brute
    force on a grid of probe boxes."""
    from geozero_spark.kernel.model import Geom, POINT

    feats = [(Geom(POINT, (float(i % 64), float(i // 64))), {"i": i})
             for i in range(4096)]
    out = fgbwrite.encode(feats)
    for bbox in ((0.0, 0.0, 3.0, 3.0), (10.5, 10.5, 12.25, 11.75),
                 (63.0, 63.0, 64.0, 64.0), (-5.0, -5.0, -1.0, -1.0)):
        want = sorted(i for i in range(4096)
                      if bbox[0] <= i % 64 <= bbox[2]
                      and bbox[1] <= i // 64 <= bbox[3])
        got = sorted(p["i"] for _, p in fgb.iter_features(out, bbox=bbox))
        assert got == want, bbox


def _kwkt_decode(w):
    return _kwkt_mod.decode(w)


from geozero_spark.kernel import wkt as _kwkt_mod  # noqa: E402


def test_spark_write_fgb_roundtrip(spark, tmpdir_path):
    """Spark-level writer: struct rows -> one executor task -> .fgb ->
    read_fgb scan returns the same features."""
    import os as _os

    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.sources import readers

    geoms = [(i, sr.to_struct(_kwkt_decode(f"POINT({i} {i * 2})")))
             for i in range(20)]
    df = spark.createDataFrame(
        geoms, f"fid long, geom struct<{sr.GEOMETRY_DDL}>")
    path = _os.path.join(tmpdir_path, "pts.fgb")
    readers.write_fgb(df, path, name="pts")
    back = readers.read_fgb(spark, tmpdir_path).collect()
    assert len(back) == 20
    got = sorted((int(r.props["fid"]),
                  r.geom.coords[0], r.geom.coords[1]) for r in back)
    assert got == [(i, float(i), float(i * 2)) for i in range(20)]


def test_truncation_never_silent_or_hanging(spark, tmp_path):
    """Any truncation of a written file must either raise FgbError (or
    a decode error) or yield the complete feature set — never a silent
    short read, never a hang — whatever the source: an in-memory
    buffer, a local range source, or the split Spark scan, whose every
    split checks the feature count it was given. Each Spark scan is a
    job (~1 s here), so it runs on every 8th cut: 104 bytes apart, about
    one cut per feature record."""
    from pyspark.errors import PythonException

    from geozero_spark.kernel import fgbremote as kr
    from geozero_spark.kernel.model import Geom, POINT
    from geozero_spark.sources import readers

    feats = [(Geom(POINT, (float(i), float(i * 2))), {"i": i})
             for i in range(30)]
    out = fgbwrite.encode(feats)
    path = str(tmp_path / "cut.fgb")
    for j, cut in enumerate(range(0, len(out), 13)):
        with open(path, "wb") as f:
            f.write(out[:cut])
        scans = {
            "buffer": lambda: list(fgb.iter_features(out[:cut])),
            "file": lambda: list(kr.iter_features_ranged(
                kr.file_range_source(path))),
            "spark": lambda: readers.read_fgb_ranged(
                spark, path, n_splits=3).collect(),
        }
        if j % 8:
            del scans["spark"]
        for name, scan in scans.items():
            try:
                got = scan()
            except (fgb.FgbError, ValueError):
                continue
            except PythonException as e:  # raised inside a split's task
                assert "FgbError" in str(e), (name, cut, e)
                continue
            assert len(got) == 30, f"{name}: silent short read at cut={cut}"


def test_spark_write_fgb_dir_parallel_roundtrip(spark, tmpdir_path):
    """Directory sink: one indexed .fgb per partition, consumed back by
    read_fgb's directory scan; bbox pushdown applies per file."""
    import os as _os

    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.sources import readers

    rows = [(i, sr.to_struct(_kwkt_decode(f"POINT({i % 50} {i // 50})")))
            for i in range(200)]
    df = spark.createDataFrame(
        rows, f"fid long, geom struct<{sr.GEOMETRY_DDL}>").repartition(4)
    d = _os.path.join(tmpdir_path, "pts_dir")
    n = readers.write_fgb_dir(df, d, name="pts")
    files = sorted(f for f in _os.listdir(d) if f.endswith(".fgb"))
    assert len(files) == 4 and n == 4
    back = readers.read_fgb(spark, d).collect()
    assert len(back) == 200
    assert sorted(int(r.props["fid"]) for r in back) == list(range(200))
    hits = readers.read_fgb(spark, d, bbox=(0.0, 0.0, 3.0, 0.5)).collect()
    want = [i for i in range(200) if i % 50 <= 3 and i // 50 == 0]
    assert sorted(int(r.props["fid"]) for r in hits) == want
