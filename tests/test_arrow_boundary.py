"""The Python boundary is Arrow in and out: arrow_udf for scalar
functions, mapInArrow / applyInArrow for map and grouped passes. Struct
and map outputs cross natively, so no scan needs a JSON or WKB detour,
and the container sinks read Arrow rows (ints stay ints)."""

import os
import re

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                   "geozero_spark")


def test_no_pandas_udf_sites_in_package():
    banned = re.compile(r"pandas_udf|mapInPandas|applyInPandas")
    hits = []
    for d, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(d, f)
            with open(p, encoding="utf-8") as fh:
                for i, line in enumerate(fh, 1):
                    if banned.search(line):
                        hits.append(f"{os.path.relpath(p, PKG)}:{i}")
    assert not hits, hits


@pytest.mark.parametrize("reader", ["read_fgb", "read_gpkg", "read_shp"])
def test_container_scan_is_one_python_pass(spark, reader):
    from geozero_spark.sources import readers

    data = os.path.join(os.path.dirname(__file__), "data")
    path = {"read_fgb": "fgb/countries.fgb",
            "read_gpkg": "gpkg/gpkg_test.gpkg",
            "read_shp": "shp/poly.shp"}[reader]
    df = getattr(readers, reader)(spark, os.path.join(data, path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "from_json" not in plan and "unhex" not in plan, plan
    assert plan.count("MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan
    assert df.where("geom IS NOT NULL").count() > 0


@pytest.mark.parametrize("writer", ["write_fgb", "write_gpkg"])
def test_sink_keeps_nullable_int_props_integral(spark, tmp_path, writer):
    # a bigint column holding a NULL used to reach the kernel encoders
    # as float64, so 3 was stored as the double 3.0
    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.kernel import wkt as kwkt
    from geozero_spark.sources import readers

    rows = [(n, sr.to_struct(kwkt.decode(f"POINT({i} {i})")))
            for i, n in enumerate([3, None, 7])]
    df = spark.createDataFrame(
        rows, f"n bigint, geom struct<{sr.GEOMETRY_DDL}>")
    ext = writer.split("_")[1]
    path = os.path.join(str(tmp_path), f"n.{ext}")
    assert getattr(readers, writer)(df, path) == 3
    back = getattr(readers, f"read_{ext}")(spark, path).collect()
    got = sorted((r.geom.coords[0], r.props.get("n")) for r in back)
    assert [n for _, n in got] == ["3", None, "7"]


def test_pylist_matches_arrow_to_pylist():
    # udfs.pylist is the fast reader every encoder and sink uses; Arrow's
    # own to_pylist is the reference, nulls and slices included
    import pyarrow as pa

    from geozero_spark.functions import udfs
    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.kernel import wkt as kwkt

    wkts = ["POINT(1 2)", "POINT EMPTY", "LINESTRING ZM(1 2 3 4,5 6 7 8)",
            "POLYGON((0 0,4 0,4 4,0 0),(1 1,2 1,1 2,1 1))",
            "MULTIPOLYGON(((0 0,1 0,1 1,0 0)),((5 5,6 5,6 6,5 5)))",
            "GEOMETRYCOLLECTION(POINT(1 2))"]
    geoms = pa.array([sr.to_struct(kwkt.decode(w)) for w in wkts] + [None],
                     type=udfs.GEOM_ARROW)
    batch = pa.RecordBatch.from_pydict({
        "geom": geoms,
        "n": pa.array([1, None, 3, 4, 5, 6, 7], pa.int64()),
        "s": pa.array(["a", None, "c", "d", "e", "f", "g"]),
        "props": pa.array([[("k", "v")], None, [], None, [("a", None)],
                           [], []], pa.map_(pa.string(), pa.string())),
    }).to_struct_array()
    for arr in (geoms, geoms.slice(2, 4), batch, batch.slice(1, 5)):
        assert udfs.pylist(arr) == arr.to_pylist()


def test_failed_decode_is_null_struct(spark, tmp_path):
    # a struct of NULL fields used to pass `geom IS NOT NULL`, so blank
    # or unparsable GeoJSON-Lines rows came back as phantom features
    from geozero_spark.sources import readers

    p = os.path.join(str(tmp_path), "f.jsonl")
    with open(p, "w") as f:
        f.write('{"type": "Point", "coordinates": [1, 2]}\n\nnot json\n'
                '{"type": "Feature", "properties": {"a": 1}, '
                '"geometry": {"type": "Point", "coordinates": [3, 4]}}\n')
    rows = readers.read_geojson_lines(spark, p).collect()
    assert sorted((list(r.geom.coords), dict(r.props)) for r in rows) == [
        ([1.0, 2.0], {}), ([3.0, 4.0], {"a": "1"})]
