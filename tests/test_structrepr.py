"""Geometry struct (GeoArrow-style) roundtrips + kernel M-dim fix."""

import math

from geozero_spark.kernel import structrepr as sr
from geozero_spark.kernel import wkb, wkt

CASES = [
    "POINT(1 2)",
    "POINT EMPTY",
    "POINT(1 2 3)",
    "POINT M(1 2 4)",
    "POINT(1 2 3 4)",
    "LINESTRING(0 0,1 1,2 0)",
    "LINESTRING M(1 2 4,5 6 7)",
    "POLYGON((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))",
    "MULTIPOINT(0 0,1 1)",
    "MULTILINESTRING((0 0,1 1),(2 2,3 3))",
    "MULTIPOLYGON(((0 0,1 0,1 1,0 0)),"
    "((5 5,6 5,6 6,5 5),(5.2 5.2,5.5 5.2,5.5 5.5,5.2 5.2)))",
    "GEOMETRYCOLLECTION(POINT(1 2),LINESTRING(0 0,1 1))",
    "CIRCULARSTRING(0 0,1 1,2 0)",
    "COMPOUNDCURVE M((1 2 4,5 6 7))",
    "TRIANGLE((0 0,1 0,0 1,0 0))",
]


def test_struct_roundtrip_all_kinds():
    for w in CASES:
        g = wkt.decode(w)
        d = sr.to_struct(g)
        g2 = sr.from_struct(d)
        assert wkt.encode(g2) == wkt.encode(g), w


def test_m_only_survives_wkt_and_wkb():
    g = wkt.decode("LINESTRING M(1 2 4,5 6 7)")
    assert g.data[0] == (1.0, 2.0, None, 4.0)
    assert wkt.encode(wkb.decode(wkb.encode(g))) == wkt.encode(g)
    assert "4" in wkt.encode(g)  # M actually printed


def test_bbox():
    d = sr.to_struct(wkt.decode("POLYGON((0 0,4 0,4 4,0 4,0 0))"))
    assert d["bbox"] == [0.0, 0.0, 4.0, 4.0]


def test_empty_point_struct():
    d = sr.to_struct(wkt.decode("POINT EMPTY"))
    assert d["bbox"] == [] and d["coords"] == []
    assert sr.from_struct(d).is_empty()


def test_exotic_kind_uses_wkb_fallback():
    d = sr.to_struct(wkt.decode("CIRCULARSTRING(0 0,1 1,2 0)"))
    assert d["wkb"] is not None and d["coords"] is None
    assert not math.isnan(d["bbox"][0])


# --- T / TM coordinate dimensions (CoordDimensions t/tm) ------------------

def test_t_tm_struct_roundtrip():
    from geozero_spark.kernel.model import LINESTRING, Geom
    g = Geom(LINESTRING, [(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)],
             t=[2020.5, 2021.5, 2022.5],
             tm=[1_000_000_001, 2_000_000_002, 3_000_000_003])
    st = sr.to_struct(g)
    assert st["tvals"] == [2020.5, 2021.5, 2022.5]
    assert st["tmvals"] == [1_000_000_001, 2_000_000_002, 3_000_000_003]
    rt = sr.from_struct(st)
    assert rt.has_t and rt.has_tm
    assert rt.t == g.t and rt.tm == g.tm
    assert rt.data == g.data


def test_t_lanes_default_absent_and_writers_ignore():
    from geozero_spark.kernel import wkt
    from geozero_spark.kernel.model import POINT, Geom
    g = Geom(POINT, (1.0, 2.0))
    assert not g.has_t and not g.has_tm
    assert sr.to_struct(g)["tvals"] is None
    gt = Geom(POINT, (1.0, 2.0), t=[2020.0])
    # format writers ignore t/tm (wkt_writer.rs:109-136 parity)
    assert wkt.encode(gt) == wkt.encode(g)


def test_t_tm_with_zm_roundtrip():
    from geozero_spark.kernel.model import POINT, Geom
    g = Geom(POINT, (1.0, 2.0, 3.0, 4.0), has_z=True, has_m=True,
             t=[1999.25], tm=[7])
    rt = sr.from_struct(sr.to_struct(g))
    assert rt.data == (1.0, 2.0, 3.0, 4.0)
    assert rt.t == [1999.25] and rt.tm == [7]
