"""convert() — the geozero-cli one-call surface (geozero-cli/src/
main.rs:68-178): extension-dispatched read -> [bbox] -> write over the
repo's readers/writers, SVG two-pass included. Matrix-roundtrips the
reference's countries.fgb fixture through the text and container
sinks and pins geometry (WKT string) + property parity at every hop."""

import json
import os

import pytest

from geozero_spark.convert import convert
from geozero_spark.kernel import fgb as kfgb
from geozero_spark.kernel import wkt as kwkt

FIX = os.path.join(os.path.dirname(__file__), "data", "fgb",
                   "countries.fgb")
SHP_DIR = os.path.join(os.path.dirname(__file__), "data", "shp")
BBOX = (8.8, 47.2, 9.5, 55.3)  # geobench.rs bbox -> 6 countries


def _countries_set():
    """(name, wkt) reference set straight from the kernel reader."""
    with open(FIX, "rb") as f:
        buf = f.read()
    return sorted((props["name"], kwkt.encode(g))
                  for g, props in kfgb.iter_features(buf))


def _read_set(spark, path, **kw):
    from geozero_spark.convert import _read_source
    rows = _read_source(spark, path, None, kw.get("csv_geometry_column")) \
        .collect()
    from geozero_spark.kernel import structrepr as sr
    return sorted((r.props["name"], kwkt.encode(sr.from_struct(r.geom)))
                  for r in rows)


def test_roundtrip_matrix_countries(spark, tmp_path):
    """fgb -> geojson -> csv -> gpkg -> fgb: 179 features and exact
    (name, WKT) parity at every hop (the WKT/GeoJSON encoders use the
    Rust-f64-Display shortest repr, so coordinates survive the text
    formats bit-exactly)."""
    want = _countries_set()
    d = str(tmp_path)

    gj = os.path.join(d, "countries.geojson")
    assert convert(spark, FIX, gj) == 179
    assert _read_set(spark, gj) == want

    cs = os.path.join(d, "countries.csv")
    assert convert(spark, gj, cs) == 179
    assert _read_set(spark, cs, csv_geometry_column="geometry") == want

    gp = os.path.join(d, "countries.gpkg")
    assert convert(spark, cs, gp, csv_geometry_column="geometry") == 179
    assert _read_set(spark, gp) == want

    fb = os.path.join(d, "countries2.fgb")
    assert convert(spark, gp, fb) == 179
    # final hop read with the kernel reader directly: real .fgb bytes
    with open(fb, "rb") as f:
        back = sorted((props["name"], kwkt.encode(g))
                      for g, props in kfgb.iter_features(f.read()))
    assert back == want


def test_bbox_pushdown_and_svg(spark, tmp_path):
    """bbox reaches the FGB index (6/179 per geobench.rs) and the SVG
    sink frames the caller's extent in its viewBox."""
    svg = os.path.join(str(tmp_path), "subset.svg")
    n = convert(spark, FIX, svg, bbox=BBOX)
    assert n == 6
    text = open(svg, encoding="utf-8").read()
    assert text.startswith('<?xml version="1.0"?>')
    assert 'viewBox="8.8 -55.3 0.6999999999999993 8.099999999999994"' \
        in text
    # one feature-svg per country; MultiPolygons expand to one <path>
    # per part (svg/writer.rs path-per-polygon), so paths >= features
    assert text.count("<path") >= 6
    assert 'width="800" height="600"' in text


def test_jsonl_wkt_parquet_hops(spark, tmp_path):
    """geojsonl single-file sink, wkt sink+source, and the parquet
    geom-struct layout as both sink-input and source."""
    d = str(tmp_path)
    jl = os.path.join(d, "c.geojsonl")
    assert convert(spark, FIX, jl, bbox=BBOX) == 6
    lines = [ln for ln in open(jl, encoding="utf-8").read().splitlines()
             if ln]
    assert len(lines) == 6
    assert all(json.loads(ln)["type"] == "Feature" for ln in lines)

    wk = os.path.join(d, "c.wkt")
    assert convert(spark, jl, wk) == 6
    wlines = open(wk, encoding="utf-8").read().splitlines()
    assert len(wlines) == 6 and all(
        ln.startswith("MULTIPOLYGON") for ln in wlines)

    # wkt source -> geojson (props are empty but geometry survives)
    gj = os.path.join(d, "c2.geojson")
    assert convert(spark, wk, gj) == 6

    # parquet canonical layout: write via Spark, read via convert
    from geozero_spark.convert import _read_source
    pq = os.path.join(d, "c.parquet")
    _read_source(spark, FIX, None, None).write.parquet(pq)
    cs = os.path.join(d, "c.csv")
    assert convert(spark, pq, cs, bbox=BBOX) == 6


def test_prop_keys_collect_is_bounded(spark, tmp_path, monkeypatch):
    """The column-expanding sinks collect at most PROP_KEY_LIMIT
    distinct property keys; more fails loudly instead of collecting
    them (countries.fgb carries two keys)."""
    from geozero_spark import convert as conv
    out = os.path.join(str(tmp_path), "c.csv")
    monkeypatch.setattr(conv, "PROP_KEY_LIMIT", 1)
    with pytest.raises(RuntimeError, match="declared bound of 1"):
        convert(spark, FIX, out, bbox=BBOX)
    monkeypatch.setattr(conv, "PROP_KEY_LIMIT", 2)
    assert convert(spark, FIX, out, bbox=BBOX) == 6


def test_shp_source_and_errors(spark, tmp_path):
    """shp (+.dbf attrs) flows through convert; unknown extensions and
    the remote-fgb-only / csv-column contracts fail loudly
    (main.rs:70-73, 89-93, 149, 177)."""
    import shutil
    d = str(tmp_path)
    sd = os.path.join(d, "poly")
    os.makedirs(sd)
    shutil.copy(os.path.join(SHP_DIR, "poly.shp"), sd)
    shutil.copy(os.path.join(SHP_DIR, "poly.dbf"), sd)
    gj = os.path.join(d, "poly.geojson")
    n = convert(spark, sd + "/poly.shp", gj)
    assert n > 0
    back = json.load(open(gj, encoding="utf-8"))
    assert back["type"] == "FeatureCollection"
    assert len(back["features"]) == n
    # .dbf attributes became properties
    assert any(f["properties"] for f in back["features"])

    with pytest.raises(ValueError, match="Remote access"):
        convert(spark, "https://x.example/a.geojson",
                os.path.join(d, "o.wkt"))
    with pytest.raises(ValueError, match="csv_geometry_column"):
        convert(spark, os.path.join(SHP_DIR, "..", "..", "x.csv"),
                os.path.join(d, "o.wkt"))
    with pytest.raises(ValueError, match="Unknown input"):
        convert(spark, "/nope/file.xyz", os.path.join(d, "o.wkt"))
    with pytest.raises(ValueError, match="Unknown output"):
        convert(spark, FIX, os.path.join(d, "o.xyz"))


def test_convert_http_fgb_source(spark, tmp_path):
    """convert() over an http:// FlatGeobuf source: the range-read
    scan (HttpFgbReader pattern) feeds the same sink surface, served
    by a live in-process Range-HTTP server."""
    import http.server
    import socketserver
    import threading

    serve_dir = os.path.dirname(FIX)

    class H(http.server.SimpleHTTPRequestHandler):
        def __init__(self, *a, **kw):
            super().__init__(*a, directory=serve_dir, **kw)

        def log_message(self, *a):
            pass

    srv = socketserver.TCPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = (f"http://127.0.0.1:{srv.server_address[1]}/"
               f"countries.fgb")
        out = os.path.join(str(tmp_path), "remote.geojson")
        n = convert(spark, url, out, bbox=BBOX)
        assert n == 6
        back = json.load(open(out, encoding="utf-8"))
        assert len(back["features"]) == 6
    finally:
        srv.shutdown()
        srv.server_close()
