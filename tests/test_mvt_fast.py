"""mvt_fast.encode_tile_cols must produce BYTE-IDENTICAL tiles to the
kernel encoder (the oracle), on both of its branches: the per-feature
python loop below ``_VECTOR_MIN`` features and the columnar command
builder at or above it."""

import numpy as np
import pyarrow as pa
import pytest

from geozero_spark.kernel import mvt as kmvt
from geozero_spark.kernel import structrepr as sr
from geozero_spark.kernel import tiles as ktiles
from geozero_spark.kernel import wkt
from geozero_spark.operators import mvt_fast

BOUNDS = (-10.0, -5.0, 10.0, 5.0)  # left, bottom, right, top
EXTENT = 4096

GEOMS = [
    "POINT(0 0)",
    "POINT(-9.5 4.9)",
    "MULTIPOINT(1 1,2 2,-3 -3)",
    "LINESTRING(-8 -4,0 0,8 4)",
    "MULTILINESTRING((0 0,1 1),(2 2,3 3,4 4))",
    "POLYGON((-5 -2,5 -2,5 2,-5 2,-5 -2))",                     # CCW
    "POLYGON((-5 -2,-5 2,5 2,5 -2,-5 -2))",                     # CW input
    "POLYGON((-5 -2,5 -2,5 2,-5 2,-5 -2),(-1 -1,1 -1,1 1,-1 1,-1 -1))",
    "MULTIPOLYGON(((0 0,2 0,2 2,0 2,0 0)),((4 4,6 4,6 6,4 6,4 4),"
    "(4.5 4.5,5 4.5,5 5,4.5 5,4.5 4.5)))",
]

# the geometry struct fields encode_tile_cols reads, with their Arrow
# types as Spark ships them (structrepr.GEOMETRY_DDL)
_LANES = (("kind", pa.int8()), ("has_z", pa.bool_()),
          ("has_m", pa.bool_()), ("coords", pa.list_(pa.float64())),
          ("offs1", pa.list_(pa.int32())), ("offs2", pa.list_(pa.int32())),
          ("wkb", pa.binary()))


def _items(geoms_wkt):
    return [(str(i), sr.to_struct(wkt.decode(w)))
            for i, w in enumerate(geoms_wkt)]


def _cols(items, props=None):
    """encode_tile_cols over [(key, struct_dict_or_None)]: one Arrow
    array per geometry lane, as the tile sink's shuffle delivers."""
    lanes = [pa.array([None if r is None else r.get(f) for _, r in items],
                      t) for f, t in _LANES]
    return mvt_fast.encode_tile_cols(
        "layer", EXTENT, [k for k, _ in items], *lanes, *BOUNDS,
        props_list=props)


def _kernel(items, props=None):
    """The oracle: kernel encoder over the same features, with the tile
    sink's skip rules (None rows and MVT-invalid features are counted
    as skipped; fid is the feature's row index)."""
    feats, skipped = [], 0
    for i, (k, rec) in enumerate(items):
        if rec is None:
            skipped += 1
            continue
        try:
            tg = ktiles.transform_geom_to_tile(
                sr.from_struct(rec), EXTENT, *BOUNDS)
            feats.append(kmvt.feature_from_geom(
                tg, properties=props[i] if props else {"id": str(k)},
                fid=i))
        except (ktiles.MvtValidityError, kmvt.MvtError):
            skipped += 1
    blob = kmvt.encode_tile(kmvt.MvtTile(layers=[kmvt.MvtLayer(
        name="layer", extent=EXTENT, features=feats)]))
    return blob, len(feats), skipped


@pytest.fixture
def columnar(monkeypatch):
    """Force the columnar branch whatever the tile size."""
    monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", 0)


def test_layer_bytes_identical(columnar):
    items = _items(GEOMS)
    want = _kernel(items)
    assert want[1:] == (len(GEOMS), 0)
    assert _cols(items) == want


def test_each_geom_individually():
    for w in GEOMS:
        items = _items([w])
        assert _cols(items) == _kernel(items), w


def test_varints_np_matches_kernel():
    rng = np.random.default_rng(3)
    vals = np.concatenate([
        rng.integers(0, 128, 50), rng.integers(128, 1 << 14, 50),
        rng.integers(1 << 14, 1 << 35, 50),
        np.array([0, 1, 127, 128, 16383, 16384, 2 ** 63 - 1])])
    blob, lens = mvt_fast.varints_np(vals)
    ref = bytearray()
    for v in vals:
        kmvt._write_varint(ref, int(v))
    assert blob == bytes(ref)
    assert int(lens.sum()) == len(blob)


def test_validity_skips_match(monkeypatch):
    # a ring that collapses onto one tile pixel is emitted, and a ring
    # with < 3 distinct coords is skipped, on both branches exactly as
    # the kernel does; so is a POLYGON whose offs1 (NULL or [0]) holds
    # no ring
    items = _items(["POINT(1 1)", "POLYGON((0 0,0.0001 0,0 0.0001,0 0))",
                    "POLYGON((0 0,1 1,0 0))", "POINT(2 2)"])
    for offs1 in (None, [0]):
        ringless = sr.to_struct(wkt.decode("POLYGON((0 0,4 0,4 4,0 0))"))
        ringless["offs1"] = offs1
        items.append((str(len(items)), ringless))
    want = _kernel(items)
    assert want[1:] == (3, 3)
    for vector_min in (0, 10 ** 9):  # columnar, then python branch
        monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", vector_min)
        assert _cols(items) == want


def test_fallback_for_exotic():
    # curved and 3D features send the WHOLE tile to the kernel encoder
    for exotic in ("CIRCULARSTRING(0 0,1 1,2 0)", "POINT(1 2 3)"):
        items = _items(["POINT(0 0)", exotic])
        assert _cols(items) is None, exotic
        assert _cols(items[1:]) is None, exotic


def test_batched_tile_bytes_identical():
    items = _items(GEOMS)
    blob, n, skipped = _cols(items)
    assert skipped == 0 and n == len(GEOMS)
    assert blob == _kernel(items)[0]


def test_batched_each_geom_individually(columnar):
    for w in GEOMS:
        items = _items([w])
        assert _cols(items) == _kernel(items), w


def test_batched_validity_skip_and_fallback():
    # a one-coordinate linestring is skipped, not fatal
    bad = sr.to_struct(wkt.decode("LINESTRING(1 1,2 2)"))
    bad["coords"] = bad["coords"][:2]  # truncate to one coordinate
    items = [("0", sr.to_struct(wkt.decode("POINT(0 0)"))), ("1", bad)]
    got = _cols(items)
    assert got[1:] == (1, 1)
    assert got == _kernel(items)
    # an exotic kind sends the whole tile to the kernel (None)
    exo = sr.to_struct(wkt.decode("CIRCULARSTRING(0 0,1 1,2 0)"))
    assert _cols([("0", exo)]) is None


def _random_simple(n, seed):
    rng = np.random.default_rng(seed)
    geoms = []
    for _ in range(n):
        x = float(rng.uniform(-9, 9))
        y = float(rng.uniform(-4, 4))
        geoms += [
            f"POINT({x:.4f} {y:.4f})",
            f"LINESTRING({x:.4f} {y:.4f},{x + 0.5:.4f} {y + 0.2:.4f},"
            f"{x - 0.3:.4f} {y - 0.1:.4f})",
            # CCW closed ring
            f"POLYGON(({x:.4f} {y:.4f},{x + 0.4:.4f} {y:.4f},"
            f"{x + 0.4:.4f} {y + 0.4:.4f},{x:.4f} {y + 0.4:.4f},"
            f"{x:.4f} {y:.4f}))",
            # CW input ring (must be re-oriented)
            f"POLYGON(({x:.4f} {y:.4f},{x:.4f} {y + 0.4:.4f},"
            f"{x + 0.4:.4f} {y + 0.4:.4f},{x + 0.4:.4f} {y:.4f},"
            f"{x:.4f} {y:.4f}))",
        ]
    return geoms


def test_vectorized_big_tile_bytes_identical():
    """>= _VECTOR_MIN features takes the columnar command builder;
    multipoint/multiline/holes among them take its python slots."""
    geoms = _random_simple(40, 7) + GEOMS
    assert len(geoms) >= mvt_fast._VECTOR_MIN
    items = _items(geoms)
    blob, n, skipped = _cols(items)
    assert skipped == 0 and n == len(geoms)
    assert blob == _kernel(items)[0]


def _skip_mix(n, seed):
    """None rows, one-coordinate linestrings and degenerate rings
    between valid points."""
    rng = np.random.default_rng(seed)
    items = []
    for i in range(n):
        x = float(rng.uniform(-9, 9))
        y = float(rng.uniform(-4, 4))
        mod = i % 6
        if mod == 0:
            items.append((str(i), None))
        elif mod == 1:
            bad = sr.to_struct(
                wkt.decode(f"LINESTRING({x:.3f} {y:.3f},0 0)"))
            bad["coords"] = bad["coords"][:2]  # 1 coord -> skip
            items.append((str(i), bad))
        elif mod == 2:
            # ring degenerates to <3 distinct coords in tile space
            w = (f"POLYGON(({x:.5f} {y:.5f},{x + 1e-05:.5f} {y:.5f},"
                 f"{x:.5f} {y + 1e-05:.5f},{x:.5f} {y:.5f}))")
            items.append((str(i), sr.to_struct(wkt.decode(w))))
        else:
            items.append((str(i), sr.to_struct(wkt.decode(
                f"POINT({x:.4f} {y:.4f})"))))
    return items


def test_vectorized_matches_python_branch_with_skips(monkeypatch):
    """None rows, invalid linestrings and degenerate rings skip
    identically in both branches and in the kernel (same n/skipped
    AND same bytes)."""
    items = _skip_mix(90, 11)
    want = _kernel(items)
    assert want[2] > 0  # some features actually skipped
    assert _cols(items) == want
    monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", 10 ** 9)
    assert _cols(items) == want


def test_columnar_framing_dedups_duplicate_keys():
    # repeated feature keys share one values-table slot, on both sides
    # of _VECTOR_MIN, exactly like the kernel's tag assembly
    for n_feats in (10, 100):
        items = [("dup" if i % 3 == 0 else str(i), sr.to_struct(
            wkt.decode(f"POINT({i % 9 - 4} {i % 4 - 2})")))
            for i in range(n_feats)]
        assert _cols(items) == _kernel(items), n_feats


def _mixed(n, seed):
    """None rows, duplicate keys, multi-part and multi-ring features
    (python slots of the columnar branch) and skip-inducing
    degenerates."""
    rng = np.random.default_rng(seed)
    items = []
    for i in range(n):
        x = float(rng.uniform(-9, 9))
        y = float(rng.uniform(-4, 4))
        mod = i % 7
        key = "dup" if i % 5 == 0 else str(i)
        if mod == 0:
            items.append((key, None))
        elif mod == 1:
            items.append((key, sr.to_struct(wkt.decode(
                f"MULTILINESTRING(({x:.3f} {y:.3f},0 0),"
                f"(1 1,2 2,3 1))"))))
        elif mod == 2:
            w = (f"POLYGON(({x:.5f} {y:.5f},{x + 1e-05:.5f} {y:.5f},"
                 f"{x:.5f} {y + 1e-05:.5f},{x:.5f} {y:.5f}))")
            items.append((key, sr.to_struct(wkt.decode(w))))  # skip
        elif mod == 3:
            items.append((key, sr.to_struct(wkt.decode(
                f"POLYGON(({x:.3f} {y:.3f},{x + 0.8:.3f} {y:.3f},"
                f"{x + 0.8:.3f} {y + 0.6:.3f},{x:.3f} {y + 0.6:.3f},"
                f"{x:.3f} {y:.3f}),({x + 0.2:.3f} {y + 0.2:.3f},"
                f"{x + 0.4:.3f} {y + 0.2:.3f},{x + 0.2:.3f} "
                f"{y + 0.4:.3f},{x + 0.2:.3f} {y + 0.2:.3f}))"))))
        else:
            items.append((key, sr.to_struct(wkt.decode(
                f"POINT({x:.4f} {y:.4f})"))))
    return items


@pytest.mark.parametrize("force_python", [False, True])
def test_cols_branch_bytes_identical(monkeypatch, force_python):
    """None rows, duplicate keys, multi-ring/multi-part features and
    degenerates match the kernel below and above the columnar
    threshold (and with the python branch forced for every size)."""
    items = _mixed(120, 23)
    if force_python:
        monkeypatch.setattr(mvt_fast, "_VECTOR_MIN", 10 ** 9)
    for n_take in (3, len(items)):  # below/above _VECTOR_MIN
        sub = items[:n_take]
        got = _cols(sub)
        assert got == _kernel(sub)
        assert got[2] > 0


def test_cols_branch_fallback_agreement():
    """A raw-WKB feature makes the whole tile fall back (None)."""
    good = sr.to_struct(wkt.decode("POINT(1 1)"))
    exotic = dict(good)
    exotic["wkb"] = b"\x01\x08\x00\x00\x00"  # circularstring marker
    assert _cols([("a", good), ("b", exotic)]) is None


def _props_for(i):
    """Typed property mix: int / double / string / bool values, a
    shared string (exercises value dedup), and a key present only on
    some features (exercises per-feature tag lists + key table)."""
    d = {"id": str(i), "n": i * 7, "score": i * 0.5,
         "lang": "en" if i % 3 else "de", "flag": i % 2 == 0}
    if i % 4 == 0:
        d["extra"] = f"x{i}"
    return d


@pytest.mark.parametrize("n_feats", [5, 120])
def test_typed_props_three_branches_byte_identical(n_feats):
    """Typed feature properties keep the python branch (< _VECTOR_MIN)
    and the columnar branch (>= _VECTOR_MIN, framed through the
    general key/value-dedup framer) byte-identical to the kernel
    encoder (mvt_writer.rs:380-401 value mapping, :357-374 tag/key/
    value dedup), also with None rows and duplicate keys."""
    items = _items([GEOMS[i % len(GEOMS)] for i in range(n_feats)])
    props = [_props_for(i) for i in range(n_feats)]
    got = _cols(items, props)
    assert got[1:] == (n_feats, 0)
    assert got == _kernel(items, props)
    # None rows, duplicate keys and skipped features among them
    items = _mixed(n_feats, 31)
    assert _cols(items, props) == _kernel(items, props)


def test_typed_props_default_unchanged():
    """props_list=None keeps the {"id": str(key)} bytes of the
    single-key columnar framer."""
    items = _items([GEOMS[i % len(GEOMS)] for i in range(120)])
    id_props = [{"id": str(i)} for i in range(120)]
    r_default = _cols(items)
    assert r_default is not None
    assert r_default == _cols(items, id_props) == _kernel(items)


def test_typed_props_random_parity():
    """Property-based parity: random typed prop dicts (value collisions
    for dedup, absent keys, all four MVT value types, empty dicts)
    against the kernel encoder, above and below the columnar
    threshold."""
    from hypothesis import given, settings, strategies as st

    vals = st.one_of(
        st.integers(min_value=0, max_value=1 << 40),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=8),
        st.booleans())
    props_st = st.dictionaries(
        st.text(min_size=1, max_size=6), vals, max_size=4)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(props_st, min_size=1, max_size=6),
           st.booleans())
    def run(prop_dicts, big):
        n = len(prop_dicts)
        if big:
            # replicate past the columnar threshold, keys stay aligned
            reps = (mvt_fast._VECTOR_MIN // n) + 1
            prop_dicts = prop_dicts * reps
            n = len(prop_dicts)
        items = _items([GEOMS[i % len(GEOMS)] for i in range(n)])
        got = _cols(items, prop_dicts)
        assert got is not None and got == _kernel(items, prop_dicts)

    run()


def test_mvt_tiles_arrow_boundary_matches_kernel(spark):
    """End to end through the Spark sink: flat 2D features, a null
    geometry, a 3D point (its tile falls back to the kernel encoder),
    tied and null feature keys, and a nullable int prop column. Every
    blob equals the kernel encoder over the tile's features in stable
    key order (nulls last)."""
    from geozero_spark.operators import tiling

    rows = [
        ("b", "POINT(10 10)", 5),
        ("a", "LINESTRING(80 10,100 12)", None),   # spans two tiles
        ("c", "POLYGON((20 20,30 20,30 30,20 30,20 20))", 7),
        ("a", "POINT(12 11)", 1),                  # tie with row 1
        (None, "POINT(15 15)", 2),                 # null key
        ("d", None, 3),                            # null geometry
        ("e", "POINT(-100 -40)", None),
        ("f", "POINT(-120 -30 7)", 4),           # 3D: kernel tile
        ("g", "MULTIPOINT(-110 -35,-105 -37)", 9),
    ]
    structs = [(k, sr.to_struct(wkt.decode(w)) if w else None, n)
               for k, w, n in rows]
    df = spark.createDataFrame(
        structs, f"url string, geom struct<{sr.GEOMETRY_DDL}>, "
                 f"n int").coalesce(1)
    z = 1
    got = {(r.z, r.x, r.y): (r.n_features, r.n_skipped, bytes(r.mvt))
           for r in tiling.mvt_tiles(df, z, key="url",
                                     props=["n"]).collect()}

    nx, ny = 2 << z, 1 << z

    def span(lo, hi, n, f):
        return range(max(0, min(n - 1, f(lo))), max(0, min(n - 1, f(hi)))
                     + 1)

    def tx(v):
        return int((v + 180.0) / 360.0 * nx)

    def ty(v):
        return int((90.0 - v) / 180.0 * ny)

    order = sorted(range(len(rows)),
                   key=lambda i: (rows[i][0] is None, rows[i][0] or ""))
    want: dict = {}
    for i in order:
        k, w, n = rows[i]
        if w is None:
            continue
        bb = structs[i][1]["bbox"]
        for x in span(bb[0], bb[2], nx, tx):
            for y in span(bb[3], bb[1], ny, ty):
                want.setdefault((z, x, y), []).append((k, i, n))
    assert set(got) == set(want)
    for (zz, x, y), feats in want.items():
        bounds = ktiles.tile_bounds_eq(zz, x, y)
        mfeats = []
        for fid, (k, i, n) in enumerate(feats):
            props = {"id": str(k)}
            if n is not None:
                props["n"] = n
            tg = ktiles.transform_geom_to_tile(
                sr.from_struct(structs[i][1]), 4096, *bounds)
            mfeats.append(kmvt.feature_from_geom(tg, properties=props,
                                                 fid=fid))
        blob = kmvt.encode_tile(kmvt.MvtTile(layers=[kmvt.MvtLayer(
            name="layer", extent=4096, features=mfeats)]))
        assert got[(zz, x, y)] == (len(mfeats), 0, blob), (x, y)
