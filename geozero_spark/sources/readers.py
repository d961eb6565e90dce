"""Format scans mirroring the reference's readers (SURVEY.md §2.1).

- read_csv_wkt: CSV with a WKT geometry column; all other columns kept
  as strings (csv_reader.rs:14-19, 149-180 semantics — geometry column
  selected by name, ColumnNotFound -> error).
- read_geojson_lines: one Feature/Geometry per line
  (geojson_line_reader.rs:12-32) — the natural Spark scan
  (1 line = 1 row) via spark.read.text.
- read_geojson_fc: a whole-file FeatureCollection
  (geojson_reader.rs:57-70) — whole-file read, explode features.

All return a DataFrame with a decoded ``geom`` struct column plus a
``props`` map<string,string> for the schema-less property bags
(property_processor.rs:53-60: names/types may vary per row).

Container formats (fgb, gpkg, shp) are scanned by ONE ``mapInArrow``
pass that emits the geometry struct and props map straight from the
kernel iterator; the container sinks share ``write_container``.
"""

from __future__ import annotations

import json
import os
from typing import Callable, Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, DataType, IntegerType, LongType,
                               MapType, StringType, StructField,
                               StructType)

from ..functions import udfs
from ..kernel import geojson as kgeojson
from ..kernel import structrepr as sr

_PROPS = MapType(StringType(), StringType())


def read_csv_wkt(spark: SparkSession, path: str, geom_col: str,
                 **csv_opts) -> DataFrame:
    """CSV scan + WKT decode of ``geom_col`` (errors if missing,
    matching csv_reader.rs:110-113 ColumnNotFound)."""
    df = spark.read.csv(path, header=True, **csv_opts)
    if geom_col not in df.columns:
        raise ValueError(f"geometry column {geom_col!r} not found "
                         f"(csv_reader.rs ColumnNotFound)")
    dec = udfs.st_geomfromwkt()
    others = [c for c in df.columns if c != geom_col]
    props = F.create_map(*[x for c in others
                           for x in (F.lit(c), F.col(c))])
    return df.select(dec(F.col(geom_col)).alias("geom"),
                     props.alias("props"), *others)


def _props_of(obj: dict) -> dict:
    props = obj.get("properties") or {} if obj.get("type") == "Feature" \
        else {}
    pm = {}
    for k, v in props.items():
        if v is None:
            continue  # nulls omitted, geojson_reader.rs:251
        # nested arrays/objects -> Json string (geojson_reader.rs:240-249)
        pm[k] = (json.dumps(v, separators=(",", ":"))
                 if isinstance(v, (dict, list)) else
                 (str(v).lower() if isinstance(v, bool) else str(v)))
    return pm


def _geom_of(obj: dict):
    geom_obj = obj.get("geometry") if obj.get("type") == "Feature" \
        else obj
    return sr.to_struct(kgeojson.from_obj(geom_obj)) if geom_obj else None


def _feature_udf():
    """Arrow UDF parsing one GeoJSON Feature/Geometry text per row into
    struct<geom, props>; an unparsable geometry or property bag is
    NULL on its own."""
    ret = StructType([StructField("geom", udfs.GEOMETRY_TYPE),
                      StructField("props", _PROPS)])

    def attempt(fn, obj):
        try:
            return fn(obj)
        except Exception:
            return None

    @arrow_udf(ret)
    def parse(s: pa.Array) -> pa.Array:
        geoms, props = [], []
        for line in s.to_pylist():
            line = (line or "").strip().rstrip(",")
            obj = (None if not line or line in ("[", "]")
                   else attempt(json.loads, line))
            geoms.append(None if obj is None else attempt(_geom_of, obj))
            props.append(None if obj is None else attempt(_props_of, obj))
        return udfs.struct_columns({"geom": geoms, "props": props}, ret)

    return parse


def _features_frame(df: DataFrame) -> DataFrame:
    f = _feature_udf()(F.col("value"))
    return (df.withColumn("feature_idx", F.monotonically_increasing_id())
            .select(f.alias("_f"), "feature_idx")
            .select("_f.geom", "_f.props", "feature_idx")
            .where(F.col("geom").isNotNull()))


def read_geojson_lines(spark: SparkSession, path: str) -> DataFrame:
    """GeoJSON-Lines scan: one Feature/Geometry per text line
    (geojson_line_reader.rs:12-32 — the natural Spark scan)."""
    return _features_frame(spark.read.text(path))


def read_geojson_fc(spark: SparkSession, path: str) -> DataFrame:
    """Whole-file FeatureCollection scan: explode features to lines,
    reuse the per-feature parse (small/medium files; convert huge
    collections to GeoJSON-Lines)."""
    raw = spark.read.text(path, wholetext=True)
    line = F.explode(F.expr(
        "CASE WHEN get_json_object(value, '$.type') = 'FeatureCollection'"
        " THEN from_json(get_json_object(value, '$.features'),"
        " 'array<string>') ELSE array(value) END")).alias("value")
    return _features_frame(raw.select(line))


def write_geojson_lines(df: DataFrame, path: str,
                        geom: str = "geom",
                        props: Optional[str] = "props") -> None:
    """GeoJSON-Lines sink (geojson_line_writer.rs:10-30): one feature
    per line via df.write.text of the encoded column."""
    enc = udfs.st_asgeojson()
    line = F.concat(
        F.lit('{"type": "Feature", "properties": '),
        F.when(F.col(props).isNotNull(),
               F.to_json(F.col(props))).otherwise(F.lit("{}"))
        if props else F.lit("{}"),
        F.lit(', "geometry": '),
        F.coalesce(enc(F.col(geom)), F.lit("null")),
        F.lit("}"))
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def read_gpx(spark: SparkSession, path: str) -> DataFrame:
    """GPX scan (gpx_reader.rs:15-43): one row per GPX document with
    its GeometryCollection struct plus parallel member-stat arrays
    (kind / n_points / first coord per member, reference member order).
    Whole-file text read — GPX documents are single XML trees; many-
    file directories parallelize by file."""
    gc = udfs.st_geomfromgpx()
    stats = udfs.gpx_members()
    raw = spark.read.text(path, wholetext=True)
    return raw.select(gc("value").alias("geom"),
                      stats("value").alias("members"))


def _scan_schema(key: str, key_type: DataType, idx: str,
                 idx_type: DataType, props: bool = True) -> StructType:
    """(key, idx, geom[, props]) output schema of a container scan."""
    fields = [StructField(key, key_type), StructField(idx, idx_type),
              StructField("geom", udfs.GEOMETRY_TYPE)]
    if props:
        fields.append(StructField("props", _PROPS))
    return StructType(fields)


def _scan(df: DataFrame, schema: StructType,
          rows_of: Callable[[dict], Iterator[tuple]]) -> DataFrame:
    """One ``mapInArrow`` pass: every input row (a file or a split)
    expands to the output rows ``rows_of(row)`` yields — tuples in
    ``schema`` order, geometry already a ``structrepr`` dict. One
    Arrow batch per input row."""
    at = to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for row in b.to_pylist():
                cols = list(zip(*rows_of(row)))
                if not cols:
                    continue
                yield pa.RecordBatch.from_arrays(
                    [pa.array(c, f.type) for c, f in zip(cols, at)],
                    schema=at)

    return df.mapInArrow(run, schema)


def read_shp(spark: SparkSession, path: str) -> DataFrame:
    """Shapefile scan (geozero/src/shp/reader.rs iter_geometries): one
    row per shape record with (path, record_idx, geom struct); a
    NullShape record has a NULL geom, and a file with no records keeps
    one (path, NULL, NULL) row (posexplode_outer semantics).

    binaryFile source -> kernel decode straight to geometry structs
    (one Arrow batch per file). Directories of .shp files parallelize
    by file; a single giant shapefile is inherently a sequential
    container (records are not length-indexed without the .shx
    sidecar — read_shp_indexed uses it), matching the reference's
    streaming reader."""
    from ..kernel import shp as kshp

    def records(row):
        recs = kshp.decode_records(row["content"])
        if not recs:
            yield row["path"], None, None
        for i, (_, g) in enumerate(recs):
            yield row["path"], i, sr.to_struct(g)

    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.shp").load(path)
             .select("path", "content"))
    return _scan(files, _scan_schema("path", StringType(), "record_idx",
                                     IntegerType(), props=False), records)


def read_shp_features(spark: SparkSession, path: str) -> DataFrame:
    """Shapefile FEATURE scan (reader.rs iter_features): geometry from
    the .shp record stream joined positionally with .dbf attributes
    (props as map<string,string> — the Properties->HashMap shape).
    Directories pair each base.shp with base.dbf; records with no
    matching attribute row get a NULL props map."""
    geoms = read_shp(spark, path).withColumn(
        "_base", F.regexp_replace("path", r"\.shp$", ""))
    from ..kernel import dbf as kdbf

    @arrow_udf(ArrayType(_PROPS))
    def dbf_rows(content: pa.Array) -> pa.Array:
        return pa.array(
            [[{k: None if v is None else str(v) for k, v in r.items()}
              for r in kdbf.decode_records(buf)]
             for buf in content.to_pylist()],
            type=pa.list_(pa.map_(pa.string(), pa.string())))

    props = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.dbf").load(path)
             .select(F.regexp_replace("path", r"\.dbf$", "")
                     .alias("_base"),
                     dbf_rows(F.col("content")).alias("_rows")))
    props = props.select(
        "_base", F.posexplode_outer("_rows").alias("record_idx", "props"))
    return (geoms.join(props, on=["_base", "record_idx"], how="left")
            .select("path", "record_idx", "geom", "props"))


def _fetch_range(path: str, start: int, nbytes: Optional[int]) -> bytes:
    """Range-read via pyarrow.fs so the same code path works on local
    disk and on any URI-addressed filesystem Arrow can open.
    ``nbytes=None`` reads to EOF (whole file)."""
    from pyarrow import fs as pafs
    if "://" in path:
        fsys, p = pafs.FileSystem.from_uri(path)
    else:
        fsys, p = pafs.LocalFileSystem(), path
    with fsys.open_input_file(p) as f:
        f.seek(start)
        if nbytes is None:
            return f.read()
        return f.read(nbytes)


def read_shp_indexed(spark: SparkSession, shp_path: str,
                     n_splits: Optional[int] = None) -> DataFrame:
    """SINGLE-huge-.shp parallel scan via the .shx sidecar (reference
    reader.rs:209-221 + shx_reader.rs:17-31): the driver reads only the
    tiny index (8 bytes per record), packs contiguous record runs into
    ~equal-byte splits, and every task range-reads just its slice of
    the .shp (one split per task: ``repartitionById`` places each
    split by its ordinal) — a 100 GB shapefile scans as wide as the
    cluster instead of serializing through one whole-file task
    (read_shp's documented limit; directories of small files keep
    using read_shp).

    Output rows match read_shp: (path, record_idx, geom), record_idx
    0-based in file order."""
    import re as _re

    from ..kernel import shp as kshp

    shx_path = _re.sub(r"\.shp$", ".shx", shp_path)
    idx = kshp.read_shx(_fetch_range(shx_path, 0, None))
    if n_splits is None:
        n_splits = spark.sparkContext.defaultParallelism
    total = sum(ln for _, ln in idx)
    target = max(1, total // max(1, n_splits))
    # (start, nbytes, first_idx) runs; a non-contiguous record (legal
    # per the spec, unseen in practice) just starts a new run
    splits: list[tuple[int, int, int]] = []
    cur_start = None
    cur_len = cur_first = 0
    for i, (off, ln) in enumerate(idx):
        if cur_start is not None and off != cur_start + cur_len:
            splits.append((cur_start, cur_len, cur_first))
            cur_start = None
        if cur_start is None:
            cur_start, cur_len, cur_first = off, 0, i
        cur_len += ln
        if cur_len >= target and len(splits) < n_splits - 1:
            splits.append((cur_start, cur_len, cur_first))
            cur_start = None
    if cur_start is not None:
        splits.append((cur_start, cur_len, cur_first))
    # one task per split, placed by its ordinal (a round-robin or hash
    # repartition lets two splits share a task while another idles)
    sdf = spark.createDataFrame(
        [(i, shp_path, s, ln, f) for i, (s, ln, f) in enumerate(splits)],
        "split int, path string, start long, nbytes long, first_idx long")
    sdf = sdf.repartitionById(max(1, len(splits)), "split")

    def records(row):
        recs = kshp.decode_record_run(
            _fetch_range(row["path"], row["start"], row["nbytes"]))
        for i, (_, g) in enumerate(recs, row["first_idx"]):
            yield row["path"], i, sr.to_struct(g)

    return _scan(sdf, _scan_schema("path", StringType(), "record_idx",
                                   LongType(), props=False), records)


def _feature_rows(key, feat_iter) -> Iterator[tuple]:
    """(Geom | None, props) stream -> (key, feature_idx, geom, props)
    rows, props stringified; a file or split yielding zero features
    (e.g. a bbox pruning everything, or an empty-but-valid container)
    contributes ZERO rows, not a phantom all-NULL feature."""
    for i, (geom, props) in enumerate(feat_iter):
        yield (key, i, sr.to_struct(geom),
               {k: None if v is None else str(v) for k, v in props.items()})


def _feature_blob_scan(spark: SparkSession, path: str, glob: str,
                       feat_iter) -> DataFrame:
    """Shared feature-file scan: binaryFile -> per-file kernel iterator
    yielding (Geom|None, props dict) -> one row per feature:
    (path, feature_idx, geom, props)."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", glob).load(path)
             .select("path", "content"))
    return _scan(files, _scan_schema("path", StringType(), "feature_idx",
                                     IntegerType()),
                 lambda row: _feature_rows(row["path"],
                                           feat_iter(row["content"])))


def read_fgb(spark: SparkSession, path: str,
             bbox: tuple | None = None) -> DataFrame:
    """FlatGeobuf scan (the reference's flagship format — README.md:
    88-95, geozero-bench/benches/geobench.rs:23-38): one row per
    feature with (path, feature_idx, geom struct, props map).

    ``bbox=(minx,miny,maxx,maxy)`` pushes the packed-Hilbert-R-tree
    search INTO the scan (kernel/fgbremote.search_index_ranged): each
    file prunes to index hits before decoding — the distributed
    analogue of the reference's select_bbox streaming read (an
    unindexed file falls back to a filtered sequential scan). A file
    holding fewer records than its header declares fails the scan with
    FgbError. feature_idx numbers the EMITTED rows per file (hit order
    == ascending file offset).
    Directories of .fgb files parallelize by file; for one giant file
    the index makes SINGLE-RANGE reads possible, but a finer split
    needs a range-aware source (documented limit, as with read_shp)."""
    from ..kernel import fgb as kfgb
    return _feature_blob_scan(
        spark, path, "*.fgb",
        lambda buf: kfgb.iter_features(buf, bbox=bbox))


def read_fgb_ranged(spark: SparkSession, url: str,
                    bbox: tuple | None = None,
                    n_splits: int = 8) -> DataFrame:
    """Distributed RANGE-READ scan of one (possibly remote) FlatGeobuf
    file — the reference's HttpFgbReader streaming pattern
    (geozero-cli/src/main.rs:70-84) made cluster-parallel.

    The driver fetches only the header plus O(n_splits) R-tree leaf
    nodes (for a bbox: plus the index walk, one range request per
    visited node run); executors then fetch DISJOINT byte ranges —
    contiguous feature spans for a full scan, contiguous hit runs for
    a bbox, each split in its own task (placed by ``split_id``) — so
    one giant remote file scans in parallel without any task reading
    it whole (the .fgb dual of read_shp_indexed's .shx-based split
    scan). ``url``: http(s):// or a local path.
    Unindexed files degrade to a single sequential task. Output schema
    matches read_fgb: (split_id, feature_idx, geom, props)."""
    from ..kernel import bounds as kbounds
    from ..kernel import fgbremote as kr

    remote = url.startswith("http://") or url.startswith("https://")
    read = (kr.http_range_source(url) if remote
            else kr.file_range_source(url))
    info = kr.read_info_ranged(read)
    indexed = info.index_node_size > 0 and info.features_count > 0
    if bbox is not None and indexed:
        hits = kr.search_index_ranged(read, info, *bbox)
        k = max(1, -(-len(hits) // n_splits))
        tasks = [(i, json.dumps(hits[i * k:(i + 1) * k]))
                 for i in range(max(1, -(-len(hits) // k)))]
        mode = "hits"
    else:
        # (start, count) spans; each task checks its count, so a cut
        # file fails its split instead of returning a short one. bbox
        # without an index: executor-side envelope filter below
        tasks = [(i, json.dumps(sp)) for i, sp in
                 enumerate(kr.split_spans(read, info, n_splits))]
        mode = "spans"

    def fetch(row):
        src = (kr.http_range_source(url) if remote
               else kr.file_range_source(url))
        spec = json.loads(row["payload"])
        if mode == "hits":
            # contiguous hit runs fetch as single ranges
            it = kr.iter_hits(src, info, spec)
        else:
            it = kr.iter_span(src, info, *spec)
            if bbox is not None:  # unindexed file: filter inline
                it = ((g, pr) for g, pr in it
                      if g is not None
                      and kbounds.intersects_bbox(g, *bbox))
        return _feature_rows(row["split_id"], it)

    # one task per split, placed by id (hash partitioning on split_id
    # lets splits collide in one task while others idle)
    tdf = spark.createDataFrame(tasks, "split_id int, payload string") \
        .repartitionById(len(tasks), "split_id")
    return _scan(tdf, _scan_schema("split_id", IntegerType(),
                                   "feature_idx", IntegerType()), fetch)


def features_of(rows: list, geom_col: str = "geom",
                prop_cols: Optional[list] = None) -> list:
    """Arrow rows (``udfs.pylist`` dicts) -> [(Geom | None,
    props)] for the container sinks. With ``prop_cols`` those columns
    are the properties and a NULL drops its key (FlatGeobuf and
    GeoPackage have no null property encoding; ints stay ints). Without
    it the ``props`` map column is the bag, kept as is."""
    feats = []
    for r in rows:
        if prop_cols is None:
            props = dict(r.get("props") or ())
        else:
            props = {c: r[c] for c in prop_cols if r[c] is not None}
        feats.append((sr.from_struct(r[geom_col]), props))
    return feats


def write_container(df: DataFrame, path: str,
                    encode: Callable[[list], tuple],
                    part_ext: str | None = None) -> int:
    """Shared sink for single-container formats: ``encode(rows) ->
    (bytes, n)`` runs inside the executor over the Arrow rows, and the
    result is written to a temp file then renamed, so a killed task
    never leaves a half-written file. The rows never transit the
    driver; on a real cluster ``path`` must be shared storage.

    By default ONE task writes the whole frame to ``path`` (an empty
    frame still writes a file) and the summed ``n`` is returned. With
    ``part_ext`` every non-empty partition writes
    ``path/part-NNNNN.<part_ext>`` and the number of files is
    returned."""
    if part_ext:
        os.makedirs(path, exist_ok=True)

    def write_part(batches: Iterator[pa.RecordBatch]
                   ) -> Iterator[pa.RecordBatch]:
        from pyspark import TaskContext

        rows = [r for b in batches
                for r in udfs.pylist(b.to_struct_array())]
        out = path
        if part_ext:
            if not rows:
                return
            pid = TaskContext.get().partitionId()
            out = os.path.join(path, f"part-{pid:05d}.{part_ext}")
        buf, n = encode(rows)
        tmp = out + ".tmp"
        with open(tmp, "wb") as f:
            f.write(buf)
        os.replace(tmp, out)
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

    if part_ext:
        return df.mapInArrow(write_part, "n long").count()
    return int(df.coalesce(1).mapInArrow(write_part, "n long")
               .agg(F.sum("n")).collect()[0][0] or 0)


def _fgb_encoder(geom_col, prop_cols, name, srid, index_node_size):
    def encode(rows):
        from geozero_spark.kernel import fgbwrite

        feats = features_of(rows, geom_col, prop_cols)
        return fgbwrite.encode(feats, name=name, srid=srid,
                               index_node_size=index_node_size), len(feats)
    return encode


def write_fgb(df: DataFrame, path: str, geom_col: str = "geom",
              name: str | None = None, srid: int | None = None,
              index_node_size: int = 16) -> int:
    """Write a DataFrame with a geometry struct column as ONE
    FlatGeobuf file (kernel/fgbwrite.py — the reference's FgbWriter
    sink, geozero-cli/src/main.rs:161-166). Non-geometry columns become
    feature properties; features are Hilbert-sorted and indexed (spec
    layout) unless some row lacks an envelope.

    A .fgb is a single sequential container (header + packed R-tree +
    features), so like the shapefile writer it is produced by ONE
    executor task over a coalesced partition (write_container). An
    empty DataFrame writes a valid header-only file. For
    partition-parallel output write a DIRECTORY of .fgb files (one per
    partition) with this same kernel — read_fgb scans directories."""
    prop_cols = [c for c in df.columns if c != geom_col]
    return write_container(df, path, _fgb_encoder(
        geom_col, prop_cols, name, srid, index_node_size))


def write_fgb_dir(df: DataFrame, path: str, geom_col: str = "geom",
                  name: str | None = None, srid: int | None = None,
                  index_node_size: int = 16) -> int:
    """Partition-parallel FlatGeobuf sink: one .fgb file PER PARTITION
    into a directory (part-00000.fgb, ...), each file independently
    Hilbert-sorted and indexed — the parallel dual of write_fgb's
    single-container mode, and exactly what read_fgb's directory scan
    consumes. Empty partitions write nothing. Returns the number of
    files written. On a real cluster ``path`` must be shared storage;
    repartition the input first to choose the file count/size."""
    prop_cols = [c for c in df.columns if c != geom_col]
    return write_container(df, path, _fgb_encoder(
        geom_col, prop_cols, name, srid, index_node_size),
        part_ext="fgb")


def _gpkg_encoder(geom_col, prop_cols, table, srid, max_rows=None):
    def encode(rows):
        from geozero_spark.kernel import gpkgwrite

        if max_rows is not None and len(rows) > max_rows:
            raise ValueError(
                f"write_gpkg: {len(rows)} rows exceed the single-file "
                f"bound max_rows={max_rows} (one task buffers the "
                f"whole container) — use write_gpkg_dir for a "
                f"partition-parallel directory sink, or raise "
                f"max_rows knowingly")
        feats = features_of(rows, geom_col, prop_cols)
        return gpkgwrite.encode(feats, table=table, geom_col=geom_col,
                                srid=srid), len(feats)
    return encode


def write_gpkg(df: DataFrame, path: str, geom_col: str = "geom",
               table: str = "features", srid: int = 4326,
               max_rows: int = 2_000_000) -> int:
    """Write a DataFrame with a geometry struct column as ONE
    GeoPackage file (kernel/gpkgwrite.py — full GPKG core profile:
    application_id, srs registry, contents, geometry_columns, features
    with gpkg-dialect WKB). Like write_fgb, a .gpkg is a single
    sequential container, so ONE executor task materializes it over a
    coalesced partition (write_container). Output is valid per
    sqlite3's integrity_check and readable by read_gpkg.

    The single task holds the whole file's pages in memory, so this is
    a FIXTURE / dimension-table sink with a LOUD bound: more than
    ``max_rows`` rows raises ValueError inside the task (the same
    fail-loud contract as pip_join's broadcast guard) instead of
    silently OOMing the executor. The data-scale path is
    ``write_gpkg_dir`` — one file per partition, bounded per-task
    memory, read back by read_gpkg's directory scan."""
    prop_cols = [c for c in df.columns if c != geom_col]
    return write_container(df, path, _gpkg_encoder(
        geom_col, prop_cols, table, srid, max_rows))


def write_gpkg_dir(df: DataFrame, path: str, geom_col: str = "geom",
                   table: str = "features", srid: int = 4326) -> int:
    """Partition-parallel GeoPackage sink: one .gpkg file PER PARTITION
    into a directory (part-00000.gpkg, ...) — the parallel dual of
    write_gpkg's single-container mode, mirroring write_fgb_dir, and
    exactly what read_gpkg's directory scan consumes. Per-task memory
    is bounded by the partition size (repartition the input to choose
    file count/size). Empty partitions write nothing. Returns the
    number of files written. On a real cluster ``path`` must be shared
    storage."""
    prop_cols = [c for c in df.columns if c != geom_col]
    return write_container(df, path, _gpkg_encoder(
        geom_col, prop_cols, table, srid), part_ext="gpkg")


def read_gpkg(spark: SparkSession, path: str,
              table: str | None = None) -> DataFrame:
    """GeoPackage FEATURE scan without a database server (the
    reference's live-SQLx path, geozero/tests/geopackage.rs:4-99,
    re-expressed file-level): binaryFile -> kernel sqlite B-tree walk
    (kernel/sqlitefile.py) -> gpkg-dialect WKB decode -> geometry
    struct + props map. One row per feature of ``table`` (default: the
    file's first registered geometry table). Directories of .gpkg
    files parallelize by file."""
    from ..kernel import gpkg as kgpkg
    return _feature_blob_scan(
        spark, path, "*.gpkg",
        lambda buf: ((geom, props) for props, geom
                     in kgpkg.read_features(buf, table=table)))
