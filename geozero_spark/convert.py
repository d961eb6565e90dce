"""One-call extension-dispatched transform — the geozero-cli surface
(geozero-cli/src/main.rs:68-178): source picked by the INPUT file
extension, sink by the OUTPUT extension, optional bbox, and the SVG
two-pass (bounds aggregation -> document viewBox, main.rs:180-203).

The canonical in-flight frame is the repo's feature shape: a ``geom``
geometry struct plus a ``props`` map<string,string> (the schema-less
property bag every reader already emits). Sinks that need property
COLUMNS (fgb, gpkg, csv) expand the map over the union of keys — a
tiny driver-side key aggregation, never a row collect.

Dispatch table (reference parity + the repo's extra formats):

  input:  .csv (needs csv_geometry_column, main.rs:89-96)
          .json/.geojson (FeatureCollection), .jsonl/.geojsonl
          .fgb (local, bbox pushed into the packed R-tree;
                http(s):// range-read — remote is fgb-only,
                main.rs:70-73), .wkt (one geometry per line),
          .parquet/.geoparquet (geom-struct layout),
          .shp (+.dbf), .gpkg, .gpx          [last three: repo extras]
  output: .csv, .wkt, .json/.geojson, .jsonl/.geojsonl, .fgb, .svg
          (reference set, main.rs:155-178) + .gpkg (repo extra)

``bbox`` filters by envelope intersection on EVERY source (the
reference only pushes its --extent into fgb/parquet and ignores it for
csv/geojson/wkt inputs; filtering uniformly is the superset a Spark
engine gets for free — for fgb it is additionally pushed into the
index). Single-file text/binary sinks are produced by ONE executor
task (temp-write + rename, the write_fgb pattern) — rows never transit
the driver; on a real cluster the destination must be shared storage.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions import udfs
from .plans import strategy
from .sources import readers

_REMOTE = ("http://", "https://")
# distinct property keys the column-expanding sinks collect: keys are
# schema, so more than this many is a bad input, not a wide table
PROP_KEY_LIMIT = 10_000


def _ext(path: str) -> str:
    base = path.rstrip("/").rsplit("/", 1)[-1]
    if "." not in base:
        raise ValueError(f"no file extension on {path!r} "
                         f"(main.rs: Unknown file extension)")
    return base.rsplit(".", 1)[-1].lower()


def _bbox_envelope_filter(df: DataFrame, bbox: tuple) -> DataFrame:
    """Envelope-intersects refine on the geometry struct's stored bbox
    (select_bbox semantics). try_element_at: an empty-geometry bbox
    array must yield NULL -> filtered, not an ANSI error."""
    minx, miny, maxx, maxy = bbox
    b = "try_element_at(geom.bbox, {i})"
    return df.where(F.expr(
        f"{b.format(i=1)} <= {maxx!r} AND {b.format(i=3)} >= {minx!r} "
        f"AND {b.format(i=2)} <= {maxy!r} AND "
        f"{b.format(i=4)} >= {miny!r}"))


def _empty_props(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "props", F.expr("CAST(map() AS map<string,string>)"))


def _read_wkt_lines(spark: SparkSession, path: str) -> DataFrame:
    """WKT source (main.rs:148: WktReader) — one geometry per line."""
    dec = udfs.st_geomfromwkt()
    txt = spark.read.text(path)
    return _empty_props(
        txt.where(F.length(F.trim("value")) > 0)
           .select(dec(F.trim(F.col("value"))).alias("geom"))
           .where(F.col("geom").isNotNull()))


def _read_source(spark: SparkSession, src: str, bbox: Optional[tuple],
                 csv_geometry_column: Optional[str]) -> DataFrame:
    """(geom, props) frame from any supported source; bbox applied
    natively where the format supports pushdown, by envelope filter
    otherwise."""
    ext = _ext(src)
    if src.startswith(_REMOTE):
        if ext != "fgb":
            raise ValueError("Remote access is only supported for "
                             ".fgb input (main.rs:70-73)")
        return readers.read_fgb_ranged(spark, src, bbox=bbox) \
            .select("geom", "props")
    if ext == "csv":
        if not csv_geometry_column:
            raise ValueError(
                "must specify csv_geometry_column when reading CSV "
                "(main.rs:89-93)")
        df = readers.read_csv_wkt(spark, src, csv_geometry_column) \
            .select("geom", "props")
    elif ext in ("json", "geojson"):
        df = readers.read_geojson_fc(spark, src).select("geom", "props")
    elif ext in ("jsonl", "geojsonl"):
        df = readers.read_geojson_lines(spark, src) \
            .select("geom", "props")
    elif ext == "fgb":
        return readers.read_fgb(spark, src, bbox=bbox) \
            .select("geom", "props")
    elif ext == "wkt":
        df = _read_wkt_lines(spark, src)
    elif ext in ("parquet", "geoparquet"):
        raw = spark.read.parquet(src)
        if "geom" not in raw.columns:
            raise ValueError(
                "parquet input needs a 'geom' geometry-struct column "
                "(the repo's canonical layout)")
        df = raw if "props" in raw.columns else _empty_props(raw)
        df = df.select("geom", "props")
    elif ext == "shp":
        # the .dbf sidecar sits NEXT TO the .shp: scan the parent
        # directory (read_shp_features pairs base.shp with base.dbf)
        # and keep only this shapefile's records
        base = src.rstrip("/").rsplit("/", 1)[-1]
        parent = os.path.dirname(src) or "."
        df = (readers.read_shp_features(spark, parent)
              .where(F.col("path").endswith("/" + base))
              .select("geom", F.coalesce(
                  "props", F.expr("CAST(map() AS map<string,string>)"))
                  .alias("props")))
    elif ext == "gpkg":
        df = readers.read_gpkg(spark, src).select("geom", "props")
    elif ext == "gpx":
        df = _empty_props(readers.read_gpx(spark, src).select("geom"))
    else:
        raise ValueError(f"Unknown input file extension .{ext} "
                         f"(main.rs:149)")
    if bbox is not None:
        df = _bbox_envelope_filter(df, bbox)
    return df


# ---------------------------------------------------------------------------
# sinks
# ---------------------------------------------------------------------------

def _prop_keys(df: DataFrame) -> list:
    """Sorted union of property keys — a tiny distinct-keys aggregate
    (map_keys explode), collected driver-side as SCHEMA, not data: at
    most ``PROP_KEY_LIMIT`` keys, more raises."""
    keys = (df.select(F.explode_outer(F.map_keys("props")).alias("k"))
            .where(F.col("k").isNotNull()).distinct())
    tbl = strategy.collect_bounded(keys, PROP_KEY_LIMIT,
                                   "convert property keys")
    return sorted(tbl.column("k").to_pylist())


def _expand_props(df: DataFrame, keys: list) -> DataFrame:
    return df.select(
        "geom", *[F.col("props").getItem(k).alias(k) for k in keys])


def _write_single_text(df: DataFrame, path: str, render) -> int:
    """ONE-task text sink: ``render(features) -> (text, n_features)``
    runs inside the executor over the coalesced rows
    (readers.write_container, the write_fgb pattern)."""
    def encode(rows):
        text, n = render(readers.features_of(rows))
        return text.encode("utf-8"), n

    return readers.write_container(df, path, encode)


def _render_wkt(feats):
    from .kernel import wkt as kwkt
    lines = [kwkt.encode(g) for g, _ in feats
             if g is not None]
    return "\n".join(lines) + ("\n" if lines else ""), len(lines)


def _render_csv(keys):
    def render(feats):
        import csv
        import io
        out = io.StringIO()
        w = csv.writer(out, lineterminator="\n")
        from .kernel import wkt as kwkt
        w.writerow(["geometry"] + keys)
        n = 0
        for g, props in feats:
            w.writerow([("" if g is None else kwkt.encode(g))]
                       + [props.get(k, "") or "" for k in keys])
            n += 1
        return out.getvalue(), n
    return render


def _feature_json(g, props) -> str:
    import json as _json
    from .kernel import geojson as kgeojson
    geom = "null" if g is None else kgeojson.encode(g)
    return ('{"type": "Feature", "properties": '
            + _json.dumps(props, separators=(", ", ": "))
            + ', "geometry": ' + geom + "}")


def _render_geojson_fc(feats):
    docs = [_feature_json(g, p) for g, p in feats]
    body = ",\n".join(docs)
    return ('{\n"type": "FeatureCollection",\n"features": ['
            + body + "]\n}\n"), len(docs)


def _render_geojson_lines(feats):
    docs = [_feature_json(g, p) for g, p in feats]
    return "\n".join(docs) + ("\n" if docs else ""), len(docs)


def _render_svg(bounds, width, height):
    def render(feats):
        from .kernel import svg as ksvg
        paths = [ksvg.encode(g, invert_y=True)
                 for g, _ in feats if g is not None]
        doc = ksvg.document(paths, bounds=bounds, invert_y=True,
                            width=width, height=height)
        return doc, len(paths)
    return render


def _svg_extent(df: DataFrame, bbox: Optional[tuple]) -> tuple:
    """get_extent (main.rs:180-203): the caller's bbox, else a bounds
    pre-pass over the dataset (BoundsProcessor semantics — one tiny
    min/max aggregate, the Spark dual of the reference's first pass)."""
    if bbox is not None:
        return bbox
    row = df.select(
        F.min(F.expr("try_element_at(geom.bbox, 1)")).alias("x0"),
        F.min(F.expr("try_element_at(geom.bbox, 2)")).alias("y0"),
        F.max(F.expr("try_element_at(geom.bbox, 3)")).alias("x1"),
        F.max(F.expr("try_element_at(geom.bbox, 4)")).alias("y1")
    ).collect()[0]
    if row["x0"] is None:
        return (0.0, 0.0, 0.0, 0.0)
    return (row["x0"], row["y0"], row["x1"], row["y1"])


def convert(spark: SparkSession, src: str, dst: str,
            bbox: Optional[tuple] = None,
            csv_geometry_column: Optional[str] = None,
            svg_width: int = 800, svg_height: int = 600) -> int:
    """Extension-dispatched read -> [bbox] -> write; returns the number
    of features written. The geozero-cli `process` composition
    (main.rs:154-178) over the repo's own readers/writers."""
    df = _read_source(spark, src, bbox, csv_geometry_column)
    ext = _ext(dst)
    if ext == "wkt":
        return _write_single_text(df, dst, _render_wkt)
    if ext == "csv":
        return _write_single_text(df, dst, _render_csv(_prop_keys(df)))
    if ext in ("json", "geojson"):
        return _write_single_text(df, dst, _render_geojson_fc)
    if ext in ("jsonl", "geojsonl"):
        return _write_single_text(df, dst, _render_geojson_lines)
    if ext == "svg":
        # two-pass: extent first (its own tiny aggregate job), then
        # the framed document (main.rs:166-173)
        extent = _svg_extent(df, bbox)
        return _write_single_text(
            df, dst, _render_svg(extent, svg_width, svg_height))
    if ext == "fgb":
        return readers.write_fgb(_expand_props(df, _prop_keys(df)), dst)
    if ext == "gpkg":
        return readers.write_gpkg(_expand_props(df, _prop_keys(df)),
                                  dst)
    raise ValueError(f"Unknown output file extension .{ext} "
                     f"(main.rs:177)")
