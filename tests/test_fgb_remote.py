"""Range-read FlatGeobuf access (kernel/fgbremote.py) — the reference's
HttpFgbReader pattern (geozero-cli/src/main.rs:70-84): results must
equal whole-buffer reads, a bbox query must fetch a small fraction of
the file, and the Spark split scan must parallelize one file without
any task reading it whole. HTTP is exercised against a local
Range-supporting server (stdlib http.server + hand-rolled Range)."""

import json
import os
import threading

import pytest

from geozero_spark.kernel import fgb, fgbremote as kr, wkt as kwkt

FIX = os.path.join(os.path.dirname(__file__), "data", "fgb",
                   "countries.fgb")
BBOX = (8.8, 47.2, 9.5, 55.3)


def _buf():
    with open(FIX, "rb") as f:
        return f.read()


def _counting_source(path):
    stats = {"calls": 0, "bytes": 0}
    inner = kr.file_range_source(path)

    def read(offset, size):
        stats["calls"] += 1
        data = inner(offset, size)
        stats["bytes"] += len(data)
        return data
    return read, stats


def _ids(feats):
    return sorted(p["id"] for _, p in feats)


def test_ranged_info_and_full_scan_match_buffer():
    read, stats = _counting_source(FIX)
    info = kr.read_info_ranged(read)
    whole = fgb.read_info(_buf())
    assert info == whole
    got = list(kr.iter_features_ranged(read))
    exp = list(fgb.iter_features(_buf()))
    assert len(got) == len(exp) == 179
    assert [kwkt.encode(g) for g, _ in got] == \
        [kwkt.encode(g) for g, _ in exp]
    assert [p for _, p in got] == [p for _, p in exp]


def test_ranged_bbox_fetches_fraction_of_file():
    read, stats = _counting_source(FIX)
    hits = list(kr.iter_features_ranged(read, bbox=BBOX))
    assert _ids(hits) == ["AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]
    # header + node runs + 6 features only — far below the file size
    assert stats["bytes"] < os.path.getsize(FIX) / 3, stats


def test_split_offsets_partition_exactly():
    read, _ = _counting_source(FIX)
    info = kr.read_info_ranged(read)
    for n in (1, 3, 8, 179, 500):
        spans = kr.split_spans(read, info, n)
        starts = [a for a, _ in spans]
        assert starts[0] == info.feature_pos
        assert starts == sorted(starts) and len(spans) == min(n, 179)
        assert sum(c for _, c in spans) == 179
        feats = []
        for a, c in spans:
            feats += list(kr.iter_span(read, info, a, c))
        assert len(feats) == 179
        assert _ids(feats) == _ids(list(fgb.iter_features(_buf())))


class _RangeHandler:
    """Minimal Range-supporting HTTP handler over one fixed file."""

    def __new__(cls, *a, **kw):
        import http.server

        class H(http.server.BaseHTTPRequestHandler):
            data = _buf()

            def do_GET(self):
                rng = self.headers.get("Range")
                if rng and rng.startswith("bytes="):
                    lo, hi = rng[6:].split("-")
                    lo, hi = int(lo), int(hi)
                    chunk = self.data[lo:hi + 1]
                    self.send_response(206)
                    self.send_header("Content-Range",
                                     f"bytes {lo}-{hi}/{len(self.data)}")
                else:
                    chunk = self.data
                    self.send_response(200)
                self.send_header("Content-Length", str(len(chunk)))
                self.end_headers()
                self.wfile.write(chunk)

            def log_message(self, *a):
                pass
        return H


@pytest.fixture(scope="module")
def http_url():
    import http.server
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0),
                                          _RangeHandler())
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/countries.fgb"
    srv.shutdown()


def test_http_range_source_bbox(http_url):
    read = kr.http_range_source(http_url)
    hits = list(kr.iter_features_ranged(read, bbox=BBOX))
    assert _ids(hits) == ["AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]


def test_spark_ranged_scan_local_and_http(spark, http_url):
    from pyspark.sql import functions as F

    from geozero_spark.sources import readers

    exp = {p["id"]: kwkt.encode(g)
           for g, p in fgb.iter_features(_buf())}
    # local file, full scan, 4 splits
    df = readers.read_fgb_ranged(spark, FIX, n_splits=4)
    rows = df.withColumn("pid", F.spark_partition_id()).collect()
    assert len(rows) == 179
    # actually parallel: each of the 4 splits runs in its own task
    owner = {(r.split_id, r.pid) for r in rows}
    assert len({s for s, _ in owner}) == 4
    assert len({p for _, p in owner}) == len(owner) == 4
    # bbox over HTTP
    hits = readers.read_fgb_ranged(spark, http_url, bbox=BBOX,
                                   n_splits=3).collect()
    assert sorted(r.props["id"] for r in hits) == [
        "AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]
    assert all(r.geom is not None for r in hits)


# --------------------------------------------------------------------------
# review fixes: protocol edges + run coalescing
# --------------------------------------------------------------------------

def test_iter_hits_matches_per_feature_fetch():
    read, stats = _counting_source(FIX)
    info = kr.read_info_ranged(read)
    rels = kr.search_index_ranged(read, info, *BBOX)
    runs = list(kr.iter_hits(read, info, rels))
    one = list(kr.iter_hits(read, info, rels, max_gap=0))  # per hit
    assert [(kwkt.encode(g), p) for g, p in runs] == \
        [(kwkt.encode(g), p) for g, p in one]
    # coalescing degenerates correctly for single/empty inputs
    assert list(kr.iter_hits(read, info, [])) == []
    g1 = list(kr.iter_hits(read, info, rels[:1], max_gap=0))
    assert kwkt.encode(g1[0][0]) == kwkt.encode(one[0][0])


def test_rtree_node_size_one_rejected():
    from geozero_spark.kernel import fgbwrite
    with pytest.raises(fgb.FgbError, match="node size"):
        fgb._rtree_level_sizes(10, 1)
    pt = kwkt.decode("POINT(1 2)")
    with pytest.raises(fgb.FgbError, match="node size"):
        fgbwrite.encode([(pt, {}), (pt, {})], index_node_size=1)


@pytest.fixture(scope="module")
def strict_http():
    """Spec-compliant Range server: 416 for out-of-range requests —
    the laxer server above masked the EOF-probe path."""
    import http.server
    import threading as th

    data = _buf()

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            rng = self.headers.get("Range")
            lo, hi = [int(v) for v in rng[6:].split("-")]
            if lo >= len(data):
                self.send_response(416)
                self.send_header("Content-Range", f"bytes */{len(data)}")
                self.end_headers()
                return
            chunk = data[lo:hi + 1]
            self.send_response(206)
            self.send_header("Content-Range",
                             f"bytes {lo}-{lo + len(chunk) - 1}"
                             f"/{len(data)}")
            self.send_header("Content-Length", str(len(chunk)))
            self.end_headers()
            self.wfile.write(chunk)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = th.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/c.fgb"
    srv.shutdown()


def test_http_416_treated_as_eof(strict_http):
    read = kr.http_range_source(strict_http)
    assert read(10 ** 9, 16) == b""  # past EOF: empty, not a raise
    feats = list(kr.iter_features_ranged(read))
    assert len(feats) == 179
    hits = list(kr.iter_features_ranged(read, bbox=BBOX))
    assert _ids(hits) == ["AUT", "CHE", "DEU", "DNK", "FRA", "RUS"]


@pytest.fixture(scope="module")
def no_range_http():
    """Server that IGNORES Range (plain 200 + whole body)."""
    import http.server
    import threading as th

    data = _buf()

    class H(http.server.BaseHTTPRequestHandler):
        hits = [0]

        def do_GET(self):
            type(self).hits[0] += 1
            self.send_response(200)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = th.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/c.fgb", H.hits
    srv.shutdown()


def test_http_no_range_support_downloads_once(no_range_http):
    url, hits = no_range_http
    read = kr.http_range_source(url)
    feats = list(kr.iter_features_ranged(read))
    assert len(feats) == 179
    assert hits[0] == 1  # whole body cached after the first 200


def test_spark_ranged_bbox_no_hits_zero_rows(spark):
    from geozero_spark.sources import readers
    out = readers.read_fgb_ranged(
        spark, FIX, bbox=(500.0, 500.0, 501.0, 501.0), n_splits=3)
    assert out.count() == 0  # no phantom all-NULL row
