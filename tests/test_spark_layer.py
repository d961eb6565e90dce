"""Spark-layer integration: format scans/sinks, resumable stages (uses
the shared session fixture)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from geozero_spark.operators import dedup
from geozero_spark.plans import meta
from geozero_spark.sources import readers


@pytest.fixture()
def tmpdir_path(tmp_path):
    return str(tmp_path)


def test_read_csv_wkt(spark, tmpdir_path):
    p = os.path.join(tmpdir_path, "pts.csv")
    with open(p, "w") as f:
        f.write("name,geom,score\n")
        f.write('a,"POINT(1 2)",10\n')
        f.write('b,"LINESTRING(0 0,1 1)",20\n')
    df = readers.read_csv_wkt(spark, p, geom_col="geom")
    rows = {r.props["name"]: r for r in df.collect()}
    assert rows["a"].geom.kind == 1 and rows["b"].geom.kind == 2
    assert rows["a"].props["score"] == "10"
    with pytest.raises(ValueError):
        readers.read_csv_wkt(spark, p, geom_col="nope")


def test_geojson_lines_roundtrip(spark, tmpdir_path):
    src = os.path.join(tmpdir_path, "f.geojsonl")
    feats = [
        {"type": "Feature", "properties": {"id": "x", "n": 1},
         "geometry": {"type": "Point", "coordinates": [3, 4]}},
        {"type": "Feature", "properties": {"tags": ["a", "b"]},
         "geometry": {"type": "LineString",
                      "coordinates": [[0, 0], [2, 2]]}},
    ]
    with open(src, "w") as f:
        for ft in feats:
            f.write(json.dumps(ft) + "\n")
    df = readers.read_geojson_lines(spark, src)
    rows = df.orderBy("feature_idx").collect()
    assert rows[0].geom.kind == 1 and rows[0].props["id"] == "x"
    # nested array property -> Json string (geojson_reader.rs:240-249)
    assert rows[1].props["tags"] == '["a","b"]'
    out = os.path.join(tmpdir_path, "out")
    readers.write_geojson_lines(df, out)
    lines = []
    for fn in sorted(os.listdir(out)):
        if fn.startswith("part-"):
            lines += [ln for ln in open(os.path.join(out, fn))
                      if ln.strip()]
    assert len(lines) == 2
    parsed = [json.loads(ln) for ln in lines]
    assert {p["geometry"]["type"] for p in parsed} == \
        {"Point", "LineString"}


def test_geojson_fc(spark, tmpdir_path):
    src = os.path.join(tmpdir_path, "fc.json")
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "properties": {"id": "NZL"},
         "geometry": {"type": "Polygon",
                      "coordinates": [[[0, 0], [1, 0], [0, 1], [0, 0]]]}},
    ]}
    with open(src, "w") as f:
        json.dump(fc, f)
    df = readers.read_geojson_fc(spark, src)
    r = df.first()
    assert r.geom.kind == 3 and r.props["id"] == "NZL"


def test_run_stage_resume(spark, tmpdir_path):
    base = os.path.join(tmpdir_path, "stages")
    df = spark.range(1000).withColumn("k", F.col("id").cast("string"))
    m1 = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                        n_buckets=4, fingerprint="v1")
    assert len(m1) == 4 and sum(r for _, r, _ in m1) == 1000
    # second run with same fingerprint: all buckets skipped
    m2 = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                        n_buckets=4, fingerprint="v1")
    assert m2 == []
    # new fingerprint: recomputed
    m3 = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                        n_buckets=4, fingerprint="v2")
    assert len(m3) == 4
    metrics = meta.stage_metrics(spark, base, "s1")
    assert metrics.where("fingerprint = 'v1'").count() == 4


def test_run_stage_rejects_bucket_column(spark, tmpdir_path):
    # a caller 'bucket' column would be silently clobbered by the
    # derived partition column — must refuse, not lose data
    base = os.path.join(tmpdir_path, "stages_clash")
    df = (spark.range(10).withColumn("k", F.col("id").cast("string"))
          .withColumn("bucket", F.lit(7)))
    with pytest.raises(ValueError, match="bucket"):
        meta.run_stage(spark, df, base, "s1", bucket_col="k",
                       n_buckets=4, fingerprint="v1")


def test_minhash_fast_mode_runs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "completely different text with other words entirely")],
        "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(df, num_perm=16, bands=8, fast=True)
    got = {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) not in got


def test_partitioned_bbox_pruning(spark, tmpdir_path):
    import re

    from geozero_spark import queries as Q
    from geozero_spark.operators import bbox_select as B

    pts = Q.points_df(spark, "/root/testdata/sf0.001").select(
        "url", "lon", "lat")
    path = os.path.join(tmpdir_path, "part")
    B.write_cell_partitioned(pts, path, res=8, prefix_res=4)
    rd = B.read_bbox_partitioned(spark, path, *Q.BBOX, res=8,
                                 prefix_res=4)
    plan = rd._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))
    assert re.search(r"PartitionFilters: \[.*cell_prefix.*\]", plan)
    exp = pts.where(
        (F.col("lon") >= Q.BBOX[0]) & (F.col("lon") <= Q.BBOX[2]) &
        (F.col("lat") >= Q.BBOX[1]) & (F.col("lat") <= Q.BBOX[3])).count()
    assert rd.count() == exp


def test_run_stage_partial_resume(spark, tmpdir_path):
    """Pre-record two buckets as done: a resumed run must write ONLY the
    pending ones (and count them correctly) in its single-write pass."""
    base = os.path.join(tmpdir_path, "stages2")
    df = spark.range(1000).withColumn("k", F.col("id").cast("string"))
    full = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                          n_buckets=4, fingerprint="v1")
    per_bucket = {b: r for b, r, _ in full}
    # simulate a killed run: meta knows about buckets 0 and 1 only
    import shutil
    shutil.rmtree(os.path.join(base, "_meta"))
    rec = spark.createDataFrame(
        [("s1", b, per_bucket[b], 0.0, "v1", 0.0) for b in (0, 1)],
        meta.META_SCHEMA)
    rec.write.mode("overwrite").parquet(meta.meta_path(base, "s1"))
    resumed = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                             n_buckets=4, fingerprint="v1")
    assert sorted(b for b, _, _ in resumed) == [2, 3]
    assert {b: r for b, r, _ in resumed} == {
        2: per_bucket[2], 3: per_bucket[3]}
    # data on disk is complete and bucket-partitioned
    out = spark.read.parquet(os.path.join(base, "s1"))
    assert out.count() == 1000
    assert out.select("bucket").distinct().count() == 4


def test_run_stage_no_output_reads(spark, tmpdir_path):
    """The two no-output cases read as empty: a path never written, and
    a write of zero rows (a directory without data files)."""
    base = os.path.join(tmpdir_path, "stages_none")
    assert meta.completed_buckets(spark, base, "s1", "v1") == set()
    assert meta.bucket_counts(spark, os.path.join(base, "s1"),
                              [0, 1]) == {}
    empty = spark.range(0).withColumn("k", F.col("id").cast("string"))
    got = meta.run_stage(spark, empty, base, "s1", bucket_col="k",
                         n_buckets=2, fingerprint="v1")
    assert [(b, r) for b, r, _ in got] == [(0, 0), (1, 0)]
    assert meta.completed_buckets(spark, base, "s1", "v1") == {0, 1}


def test_run_stage_read_errors_raise(spark, tmpdir_path):
    """Any other read failure raises: it must not record pending
    buckets as written with 0 rows, nor rewrite every bucket."""
    base = os.path.join(tmpdir_path, "stages_bad")
    for d in (meta.meta_path(base, "s1"),
              os.path.join(base, "s1", "bucket=0")):
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "wb") as f:
            f.write(b"not a parquet file" * 8)
    with pytest.raises(Exception, match="(?i)parquet"):
        meta.completed_buckets(spark, base, "s1", "v1")
    with pytest.raises(Exception, match="(?i)parquet"):
        meta.bucket_counts(spark, os.path.join(base, "s1"), [0])


def test_run_stage_fanout_fills_every_slot(spark, tmpdir_path):
    """n_buckets sharing a factor with the parallelism: every bucket
    still spreads over ``fanout`` tasks, one non-empty file each."""
    par = spark.sparkContext.defaultParallelism
    n_buckets = next(f for f in range(2, par + 1) if par % f == 0)
    fanout = -(-par // n_buckets)
    assert fanout > 1
    base = os.path.join(tmpdir_path, "stages_fan")
    df = spark.range(4000).withColumn("k", F.col("id").cast("string"))
    meta.run_stage(spark, df, base, "s1", bucket_col="k",
                   n_buckets=n_buckets, fingerprint="v1")
    for b in range(n_buckets):
        d = os.path.join(base, "s1", f"bucket={b}")
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == fanout, (b, files)
        assert all(os.path.getsize(os.path.join(d, f)) > 0
                   for f in files)


def _plan_nodes(node):
    """Every node of a logical plan, depth-first, with the names of
    the nodes above it."""
    todo = [(node, ())]
    while todo:
        n, above = todo.pop()
        yield n, above
        kids = n.children()
        todo.extend((kids.apply(i), above + (n.nodeName(),))
                    for i in range(kids.size()))


def test_run_stage_cell_bucketed_resume(spark, tmpdir_path, monkeypatch):
    """Bucketing on a derived Morton cell: the full write and a partial
    resume both finish (with codegen fallback off, so a compile failure
    raises), the resume writes exactly the full run's counts for its
    buckets, and no Filter below the exchange carries the bucket hash
    (a pushed-down bucket predicate re-inlines the staged cell tree
    until the optimizer runs out of heap)."""
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    from conftest import SF_DIR
    from geozero_spark import queries as Q
    from geozero_spark.functions import cols

    writes = []
    parquet = DataFrameWriter.parquet

    def spy(self, path, *a, **kw):
        writes.append((path, self._df))
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        df = cols.with_cell_col(Q.points_df(spark, SF_DIR),
                                "lon", "lat", 12)
        n_rows = df.count()
        base = os.path.join(tmpdir_path, "stages_cell")
        full = meta.run_stage(spark, df, base, "s1", bucket_col="cell",
                              n_buckets=4, fingerprint="v1")
        per_bucket = {b: r for b, r, _ in full}
        assert sum(per_bucket.values()) == n_rows > 0
        assert len(per_bucket) == 4
        shutil.rmtree(os.path.join(base, "_meta"))
        spark.createDataFrame(
            [("s1", b, per_bucket[b], 0.0, "v1", 0.0) for b in (0, 1)],
            meta.META_SCHEMA,
        ).write.mode("overwrite").parquet(meta.meta_path(base, "s1"))
        done_files = {b: sorted(os.listdir(
            os.path.join(base, "s1", f"bucket={b}"))) for b in (0, 1)}
        writes.clear()
        resumed = meta.run_stage(spark, df, base, "s1",
                                 bucket_col="cell", n_buckets=4,
                                 fingerprint="v1")
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    assert {b: r for b, r, _ in resumed} == {
        2: per_bucket[2], 3: per_bucket[3]}
    # the done buckets' files are untouched, not rewritten
    assert done_files == {b: sorted(os.listdir(
        os.path.join(base, "s1", f"bucket={b}"))) for b in (0, 1)}
    out = spark.read.parquet(os.path.join(base, "s1"))
    assert out.count() == n_rows
    staged = [d for path, d in writes if path == f"{base}/s1"]
    assert len(staged) == 1
    nodes = list(_plan_nodes(
        staged[0]._jdf.queryExecution().optimizedPlan()))
    assert any(n.nodeName() == "RepartitionByExpression"
               for n, _ in nodes)
    for n, above in nodes:
        if n.nodeName() == "Filter" and \
                "RepartitionByExpression" in above:
            assert "xxhash64" not in n.condition().toString(), \
                n.condition().toString()


def _keyed(spark, n=1000):
    return spark.range(n).withColumn("k", F.col("id").cast("string"))


def _stage_state(spark, base):
    """What a run leaves behind: the data-file count and the ids of each
    bucket directory, and the ``_meta`` rows without walls and times."""
    root = os.path.join(base, "s1")
    files = {d: sum(not f.startswith(("_", "."))
                    for f in os.listdir(os.path.join(root, d)))
             for d in os.listdir(root) if d.startswith("bucket=")}
    ids = sorted((r.bucket, r.id) for r in
                 spark.read.parquet(root).select("bucket", "id").collect())
    recs = sorted((r.stage, r.bucket, r.rows, r.fingerprint) for r in
                  meta.stage_metrics(spark, base, "s1").collect())
    return files, ids, recs


def test_run_stage_meta_append_failure_reruns_clean(
        spark, tmpdir_path, monkeypatch):
    """A run killed between its data write and its ``_meta`` append
    records nothing, so the rerun redoes every bucket and leaves the same
    files, counts and ``_meta`` rows as a clean run."""
    from pyspark.sql.readwriter import DataFrameWriter

    df = _keyed(spark)
    clean = os.path.join(tmpdir_path, "clean")
    want = meta.run_stage(spark, df, clean, "s1", bucket_col="k",
                          n_buckets=4, fingerprint="v1")
    base = os.path.join(tmpdir_path, "killed")
    parquet = DataFrameWriter.parquet
    calls = []

    def second_write_fails(self, path, *a, **kw):
        calls.append(path)
        if len(calls) == 2:
            raise RuntimeError("killed after the stage's first write")
        return parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", second_write_fails)
    with pytest.raises(RuntimeError, match="killed"):
        meta.run_stage(spark, df, base, "s1", bucket_col="k",
                       n_buckets=4, fingerprint="v1")
    monkeypatch.undo()
    assert calls == [f"{base}/s1", meta.meta_path(base, "s1")]
    assert meta.completed_buckets(spark, base, "s1", "v1") == set()
    got = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                         n_buckets=4, fingerprint="v1")
    assert [(b, r) for b, r, _ in got] == [(b, r) for b, r, _ in want]
    assert _stage_state(spark, base) == _stage_state(spark, clean)


def test_run_stage_corrupt_footer_records_nothing(
        spark, tmpdir_path, monkeypatch):
    """A data file whose footer cannot be read fails the run before its
    ``_meta`` append: no bucket is recorded, and the rerun's pre-delete
    clears the bad file."""
    from pyspark.sql.readwriter import DataFrameWriter

    df = _keyed(spark)
    base = os.path.join(tmpdir_path, "stages_corrupt")
    parquet = DataFrameWriter.parquet

    def corrupt_after_write(self, path, *a, **kw):
        parquet(self, path, *a, **kw)
        if path == f"{base}/s1":
            with open(os.path.join(path, "bucket=0", "part-bad.parquet"),
                      "wb") as f:
                f.write(b"not a parquet file" * 8)

    monkeypatch.setattr(DataFrameWriter, "parquet", corrupt_after_write)
    with pytest.raises(Exception, match="(?i)parquet"):
        meta.run_stage(spark, df, base, "s1", bucket_col="k",
                       n_buckets=4, fingerprint="v1")
    monkeypatch.undo()
    assert meta.completed_buckets(spark, base, "s1", "v1") == set()
    got = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                         n_buckets=4, fingerprint="v1")
    assert sum(r for _, r, _ in got) == 1000
    assert "part-bad.parquet" not in os.listdir(
        os.path.join(base, "s1", "bucket=0"))


def test_run_stage_stale_bucket_counts_zero(spark, tmpdir_path):
    """A bucket dir left by an older fingerprint, for a bucket that gets
    no rows this run, counts 0 rows, not the stale ones."""
    df = _keyed(spark)
    base = os.path.join(tmpdir_path, "stages_stale")
    old = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                         n_buckets=4, fingerprint="v1")
    assert all(r > 0 for _, r, _ in old)
    bucket = F.pmod(F.xxhash64("k"), F.lit(4))
    df2 = df.where(bucket != 3)
    want = {r.b: r["count"] for r in
            df2.groupBy(bucket.alias("b")).count().collect()}
    got = meta.run_stage(spark, df2, base, "s1", bucket_col="k",
                         n_buckets=4, fingerprint="v2")
    assert {b: r for b, r, _ in got} == {**want, 3: 0}
    assert not os.path.exists(os.path.join(base, "s1", "bucket=3"))
    assert {(r.bucket, r.rows) for r in meta.stage_metrics(
        spark, base, "s1").where("fingerprint = 'v2'").collect()} == \
        set(want.items()) | {(3, 0)}


# Spark jobs per run_stage call on a spark.range input (4 buckets, test
# session with AQE): the write is its exchange plus the file write, the
# _meta append one more, the _meta read one collect; footer counts run
# on the driver with no job
FIRST_WRITE_JOBS = 3
PARTIAL_RESUME_JOBS = 4


def _group_jobs(spark, group, fn):
    """fn() under its own job group: (result, the group's job ids)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def test_run_stage_job_cost(spark, tmpdir_path):
    """Each call's Spark jobs, read from its own job group; the write and
    the ``_meta`` append are named by their job descriptions, and the
    caller's description is back in place after the call."""
    import shutil

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    df = _keyed(spark)
    base = os.path.join(tmpdir_path, "stages_cost")
    path = os.path.join(base, "s1")

    def stage():
        got = meta.run_stage(spark, df, base, "s1", bucket_col="k",
                             n_buckets=4, fingerprint="v1")
        return got, sc.getLocalProperty("spark.job.description")

    (first, desc), jobs = _group_jobs(spark, "run_stage_cost_first", stage)
    assert desc == "run_stage_cost_first"
    assert sum(r for _, r, _ in first) == 1000
    assert len(jobs) <= FIRST_WRITE_JOBS, jobs
    assert {store.job(j).description().get() for j in jobs} == {
        "run_stage s1: write", "run_stage s1: _meta"}
    read = "run_stage s1: completed buckets"
    (got, _), jobs = _group_jobs(spark, "run_stage_cost_resume", stage)
    assert got == [] and len(jobs) == 1
    assert store.job(jobs[0]).description().get() == read
    done, jobs = _group_jobs(spark, "run_stage_cost_completed", lambda:
                             meta.completed_buckets(spark, base, "s1", "v1"))
    assert done == {0, 1, 2, 3} and len(jobs) == 1
    assert store.job(jobs[0]).description().get() == read
    counts, jobs = _group_jobs(spark, "run_stage_cost_counts", lambda:
                               meta.bucket_counts(spark, path, [0, 1, 2, 3]))
    assert counts == {b: r for b, r, _ in first} and jobs == []
    shutil.rmtree(os.path.join(base, "_meta"))
    spark.createDataFrame(
        [("s1", b, r, 0.0, "v1", 0.0) for b, r, _ in first[:2]],
        meta.META_SCHEMA).write.parquet(meta.meta_path(base, "s1"))
    (got, _), jobs = _group_jobs(spark, "run_stage_cost_partial", stage)
    assert [(b, r) for b, r, _ in got] == [(b, r) for b, r, _ in first[2:]]
    assert len(jobs) <= PARTIAL_RESUME_JOBS, jobs
    assert {store.job(j).description().get() for j in jobs} == {
        read, "run_stage s1: write", "run_stage s1: _meta"}


def test_read_gpx_scan(spark, tmpdir_path):
    gpx = ('<gpx><wpt lat="10" lon="20"></wpt>'
           '<trk><trkseg><trkpt lat="1" lon="2"></trkpt>'
           '<trkpt lat="3" lon="4"></trkpt></trkseg></trk>'
           '<rte><rtept lat="5" lon="6"></rtept></rte></gpx>')
    p = os.path.join(tmpdir_path, "track.gpx")
    with open(p, "w") as f:
        f.write(gpx)
    df = readers.read_gpx(spark, p)
    row = df.collect()[0]
    assert row.geom.kind == 7  # GeometryCollection struct
    assert list(row.members.kind) == [1, 5, 5]
    assert list(row.members.n_points) == [1, 2, 1]
    assert list(row.members.x0) == [20.0, 2.0, 6.0]
    assert list(row.members.y0) == [10.0, 1.0, 5.0]


def test_t_tm_lanes_through_spark_transform(spark):
    """T/TM side lanes survive the JVM coordinate transform
    (pre_process_xy parity: wrap.rs forwards t/tm verbatim) while x/y
    scale, and the WKT writer ignores them."""
    from geozero_spark.functions import cols, udfs
    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.kernel.model import LINESTRING, Geom

    g = Geom(LINESTRING, [(100.0, 200.0), (300.0, 400.0)],
             t=[2020.5, 2021.5], tm=[11, 22])
    df = spark.createDataFrame([(sr.to_struct(g),)],
                               f"geom struct<{sr.GEOMETRY_DDL}>")
    out = df.select(cols.scale_flat(F.col("geom"), 0.01).alias("geom"))
    row = out.collect()[0].geom
    assert list(row.coords) == [1.0, 2.0, 3.0, 4.0]
    assert list(row.tvals) == [2020.5, 2021.5]
    assert list(row.tmvals) == [11, 22]
    enc = udfs.st_aswkt()
    wkt_row = out.select(enc("geom").alias("w")).collect()[0].w
    assert wkt_row == "LINESTRING(1 2,3 4)"


def test_empty_geometry_skipped_in_covers(spark):
    """Empty geometries carry bbox=[]; cover explodes must skip them
    instead of failing ANSI element_at (round-1 advisory)."""
    from geozero_spark.kernel import structrepr as sr, wkt as kwkt
    from geozero_spark.operators import pip_join as pj, tiling

    empty = sr.to_struct(kwkt.decode("POLYGON EMPTY"))
    full = sr.to_struct(kwkt.decode("POLYGON((0 0,1 0,1 1,0 1,0 0))"))
    df = spark.createDataFrame(
        [(1, empty), (2, full)], f"id long, geom struct<{sr.GEOMETRY_DDL}>")
    cov = pj.explode_bbox_cover(df, res=4, bbox_col="geom.bbox")
    assert {r.id for r in cov.select("id").distinct().collect()} == {2}
    tiles = tiling.explode_tiles_eq(df, z=2)
    assert {r.id for r in tiles.select("id").distinct().collect()} == {2}


def test_bounds_counts_wkb_fallback_coords(spark):
    """Exotic kinds carried as wkb (coords NULL) must still contribute
    to n_coords (VertexCounter parity, round-1 advisory)."""
    from geozero_spark.kernel import structrepr as sr, wkt as kwkt
    from geozero_spark.operators import boundsagg

    flat = sr.to_struct(kwkt.decode("LINESTRING(0 0,1 1,2 0)"))
    exotic = sr.to_struct(kwkt.decode(
        "CIRCULARSTRING(0 0,1 1,2 0)"))  # wkb fallback, 3 coords
    assert exotic["coords"] is None and exotic["wkb"] is not None
    df = spark.createDataFrame(
        [(flat,), (exotic,)], f"geom struct<{sr.GEOMETRY_DDL}>")
    row = boundsagg.dataset_bounds(df).collect()[0]
    assert row.n_features == 2
    assert row.n_coords == 6


def test_partial_gpkg_dir_fixture_is_rewritten(spark, tmp_path):
    """A run killed after partition 0's write task leaves only
    part-00000.gpkg in the gpkg_dir_decode fixture directory; the next
    run writes the fixture again instead of reading that one part as
    all of it."""
    import glob
    import hashlib
    import shutil

    from conftest import SF_DIR
    from geozero_spark import queries as Q

    # a second spelling of the data dir gets its own fixture directory
    sf = os.path.join(str(tmp_path), "sf")
    os.symlink(SF_DIR, sf)
    tag = hashlib.sha1(sf.encode()).hexdigest()[:12]
    try:
        full = Q.q_gpkg_dir_decode(spark, sf).count()
        (d,) = glob.glob(f"/tmp/gz_gpkgd_{tag}_cap*")
        for f in os.listdir(d):
            if f != "part-00000.gpkg":
                os.remove(os.path.join(d, f))
        assert os.listdir(d) == ["part-00000.gpkg"]
        assert Q.q_gpkg_dir_decode(spark, sf).count() == full
    finally:
        for d in glob.glob(f"/tmp/gz_gpkgd_{tag}_cap*"):
            shutil.rmtree(d)


def test_pip_broadcast_guard(spark, monkeypatch):
    from geozero_spark.kernel import structrepr as sr, wkt as kwkt
    from geozero_spark.operators import pip_join as pj
    from geozero_spark.plans import strategy

    poly = sr.to_struct(kwkt.decode("POLYGON((0 0,4 0,4 4,0 4,0 0))"))
    polys = spark.createDataFrame(
        [(i, poly) for i in range(5)],
        f"zone_id long, poly struct<{sr.GEOMETRY_DDL}>")
    pts = spark.createDataFrame([(1.0, 1.0)], "lon double, lat double")
    monkeypatch.setattr(strategy, "BROADCAST_ROWS", 3)
    with pytest.raises(RuntimeError, match="broadcast_polys=False"):
        pj.pip_join(pts, polys, res=4)


def test_pip_broadcast_cover_guard(spark, monkeypatch):
    """The driver-side broadcast cover goes through the one bound guard:
    over ``_BROADCAST_COVER_CELLS`` (key, cell) rows it raises
    BoundExceeded with the way out in the message."""
    from geozero_spark.kernel import structrepr as sr, wkt as kwkt
    from geozero_spark.operators import pip_join as pj
    from geozero_spark.plans import strategy

    poly = sr.to_struct(kwkt.decode("POLYGON((0 0,4 0,4 4,0 4,0 0))"))
    polys = spark.createDataFrame(
        [(i, poly) for i in range(2)],
        f"zone_id long, poly struct<{sr.GEOMETRY_DDL}>")
    pts = spark.createDataFrame([(1.0, 1.0)], "lon double, lat double")
    monkeypatch.setattr(pj, "_BROADCAST_COVER_CELLS", 1)
    with pytest.raises(strategy.BoundExceeded,
                       match="coarser res or broadcast_polys=False"):
        pj.pip_join(pts, polys, res=4)


def test_read_shp_scan_mixed(spark):
    """read_shp over the reference's own poly.shp fixture: 10
    MultiPolygon records through binaryFile -> kernel -> EWKB ->
    struct."""
    d = os.path.join(os.path.dirname(__file__), "data", "shp")
    df = readers.read_shp(spark, os.path.join(d, "poly.shp"))
    rows = df.collect()
    assert len(rows) == 10
    assert all(r.geom.kind == 6 for r in rows)
    assert sorted(r.record_idx for r in rows) == list(range(10))


def test_jvm_point_parse_matches_kernel(spark):
    """cols.point_struct_from_wkt_jvm must produce the same struct
    values as the kernel codec (st_geomfromwkt) for simple 2D POINTs,
    and NULL for anything else. The GeoJSON decode (st_geomfromgeojson)
    of the same geometry is one more input: it must equal the WKT
    decode struct for struct."""
    from geozero_spark.functions import cols, udfs
    from geozero_spark.kernel import geojson as kgeojson, wkt as kwkt
    texts = ["POINT(1300 6700)", "POINT(-17999 -8999)", "POINT(0 0)",
             "LINESTRING(0 0,1 1)", "", "POINT(1 2 3)"]

    def as_geojson(t):
        try:
            return kgeojson.encode(kwkt.decode(t))
        except ValueError:
            return t  # undecodable stays undecodable: NULL both ways

    df = spark.createDataFrame([(t, as_geojson(t)) for t in texts],
                               "wkt string, gj string")
    dec = udfs.st_geomfromwkt()
    out = df.select(
        "wkt",
        cols.point_struct_from_wkt_jvm(F.col("wkt")).alias("jvm"),
        dec("wkt").alias("kern"),
        udfs.st_geomfromgeojson()("gj").alias("gj")).collect()
    assert all(r.gj == r.kern for r in out)
    for r in out:
        if r.wkt.startswith("POINT(") and r.wkt.count(" ") == 1:
            assert r.jvm is not None, r.wkt
            assert list(r.jvm.coords) == list(r.kern.coords), r.wkt
            assert list(r.jvm.bbox) == list(r.kern.bbox)
            assert r.jvm.kind == r.kern.kind == 1
        else:
            assert r.jvm is None, r.wkt


def test_jvm_simple_geom_parse_matches_kernel(spark):
    from geozero_spark.functions import cols, udfs
    texts = ["LINESTRING(100 200,200 250,300 200)",
             "POLYGON((305 0,0 305,-305 0,0 -305,305 0))",
             "POINT(12 -34)",
             "MULTIPOINT(1 1,2 2)",    # not simple -> NULL
             "POLYGON((0 0,4 0,4 4,0 0),(1 1,2 1,1 2,1 1))",  # hole
             ""]
    df = spark.createDataFrame([(t,) for t in texts], "wkt string")
    dec = udfs.st_geomfromwkt()
    out = df.select(
        "wkt", cols.simple_geom_from_wkt_jvm(F.col("wkt")).alias("jvm"),
        dec("wkt").alias("kern")).collect()
    simple = 0
    for r in out:
        w = r.wkt
        is_simple = (w.startswith("POINT(") and w.count(" ") == 1) or \
            w.startswith("LINESTRING(") or \
            (w.startswith("POLYGON((") and "),(" not in w)
        if not is_simple:
            assert r.jvm is None, w
            continue
        simple += 1
        assert r.jvm.kind == r.kern.kind, w
        assert list(r.jvm.coords) == list(r.kern.coords), w
        assert list(r.jvm.bbox) == list(r.kern.bbox), w
        j1 = None if r.jvm.offs1 is None else list(r.jvm.offs1)
        k1 = None if r.kern.offs1 is None else list(r.kern.offs1)
        assert j1 == k1, w
    assert simple == 3


def test_streaming_watermark_drops_late(spark, tmpdir_path):
    """Watermark semantics with genuinely late micro-batches: batch 1
    advances event time to T+3h; batch 2 delivers an event at T (3h
    late, past the 1h watermark) plus a fresh one. In append mode the
    late row must NOT appear in any emitted window."""
    import time as _time
    src = os.path.join(tmpdir_path, "late_src")
    os.makedirs(src, exist_ok=True)
    base = 1767225600
    b1 = spark.createDataFrame(
        [(1, base), (2, base + 3 * 3600)], "id long, ts_sec long")
    b1.coalesce(1).write.mode("append").parquet(src)
    first = {f for f in os.listdir(src) if f.endswith(".parquet")}

    stream = (spark.readStream.schema("id long, ts_sec long")
              .option("maxFilesPerTrigger", "1").parquet(src))
    agg = (stream
           .withColumn("ts", F.expr("timestamp_seconds(ts_sec)"))
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("win"))
           .agg(F.count("*").alias("n")))
    ck = os.path.join(tmpdir_path, "late_ckpt")
    sink = os.path.join(tmpdir_path, "late_sink")
    flat = agg.select(
        F.unix_timestamp("win.start").cast("long").alias("win_start"),
        "n")
    q = (flat.writeStream.format("parquet").option("path", sink)
         .outputMode("append").trigger(availableNow=True)
         .option("checkpointLocation", ck).start())
    q.awaitTermination()

    # batch 2: one LATE row (at base, watermark is base+3h-1h) and one
    # fresh row that closes the late window question
    b2 = spark.createDataFrame(
        [(3, base), (4, base + 5 * 3600)], "id long, ts_sec long")
    b2.coalesce(1).write.mode("append").parquet(src)
    # resume from the SAME checkpoint: the watermark state (base+2h)
    # survives the restart, so batch 2's base-time row is late
    q2 = (flat.writeStream.format("parquet").option("path", sink)
          .outputMode("append").trigger(availableNow=True)
          .option("checkpointLocation", ck).start())
    q2.awaitTermination()
    rows = [(r.win_start, r.n) for r in
            spark.read.parquet(sink).collect()]
    # the base-hour window is emitted exactly once (batch 1's on-time
    # row, n=1); a leaked late row would re-emit it or bump the count
    base_rows = [(st, n) for st, n in rows if st == base]
    assert base_rows == [(base, 1)], base_rows
    # the fresh row's window was emitted on the resumed run
    assert any(st == base + 3 * 3600 for st, _ in rows)


def test_read_shp_features_with_dbf(spark):
    """Feature scan: poly.shp geometries + poly.dbf attributes zipped
    by record index (iter_features parity — EAS_ID > 100 for all)."""
    d = os.path.join(os.path.dirname(__file__), "data", "shp")
    df = readers.read_shp_features(spark, d)
    rows = [r for r in df.collect() if r.path.endswith("poly.shp")]
    assert len(rows) == 10
    assert all(r.geom.kind == 6 for r in rows)
    assert all(r.props is not None and float(r.props["EAS_ID"]) > 100
               for r in rows)
    # shapefiles without a .dbf sibling keep NULL props
    others = [r for r in df.collect() if r.path.endswith("line.shp")]
    assert others and all(r.props is None for r in others)


def test_staged_cell_col_matches_kernel_and_sqlgen(spark):
    """cols.with_cell_col (staged Morton columns) is bit-identical to
    kernel.cells.cell_id AND to the single-expression sqlgen.cell_id
    text the DuckDB oracles run — including clamp boundaries."""
    from geozero_spark.functions import cols, sqlgen as sg
    from geozero_spark.kernel import cells as kc
    from pyspark.sql import functions as F

    lons = [-180.0, -179.99, -30.5, -0.01, 0.0, 0.01, 33.33, 179.99,
            180.0, 181.0, -181.0]
    lats = [-90.0, -89.99, -45.5, 0.0, 0.25, 45.75, 89.99, 90.0, 91.0]
    rows = [(lo, la) for lo in lons for la in lats]
    df = spark.createDataFrame(rows, "lon double, lat double")
    for res in (4, 6, 8):
        got = (cols.with_cell_col(df, "lon", "lat", res)
               .withColumn("cell_sql",
                           F.expr(sg.cell_id("lon", "lat", res,
                                             sg.SPARK)))
               .collect())
        for r in got:
            want = kc.cell_id(r["lon"], r["lat"], res)
            assert r["cell"] == want, (r["lon"], r["lat"], res)
            assert r["cell_sql"] == want


def test_staged_cell_col_column_inputs(spark):
    """with_cell_col accepts Column expressions (the kNN grid path
    feeds centi-degree coords divided on the fly)."""
    from geozero_spark.functions import cols
    from geozero_spark.kernel import cells as kc
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(1234, -5678), (0, 0), (17999, 8999)],
                               "xc long, yc long")
    got = cols.with_cell_col(
        df, F.col("xc") / F.lit(100.0), F.col("yc") / F.lit(100.0),
        5, out="c").collect()
    for r in got:
        assert r["c"] == kc.cell_id(r["xc"] / 100.0, r["yc"] / 100.0, 5)


def test_read_shp_indexed_matches_whole_file(spark, tmpdir_path):
    """Single-huge-.shp parallel scan: .shx-driven range splits must
    reproduce read_shp's whole-file decode row for row, with the work
    spread over several byte-range tasks (reader.rs:209-221 +
    shx_reader.rs semantics)."""
    from geozero_spark.kernel import shp as kshp
    from geozero_spark.kernel.model import Geom, POINT

    geoms = [Geom(POINT, (float(2 * i), float(3 * i + 1)))
             for i in range(2000)]
    buf = kshp.encode(geoms)
    path = os.path.join(tmpdir_path, "big.shp")
    with open(path, "wb") as f:
        f.write(buf)
    with open(os.path.join(tmpdir_path, "big.shx"), "wb") as f:
        f.write(kshp.shx_of(buf))

    idf = readers.read_shp_indexed(spark, path, n_splits=8)
    assert idf.rdd.getNumPartitions() == 8
    # one task per split: the 8 record runs fill all 8 partitions
    pids = idf.select(F.spark_partition_id()).distinct().collect()
    assert len(pids) == 8
    got = {r.record_idx: (r.geom.coords[0], r.geom.coords[1])
           for r in idf.collect()}
    assert len(got) == 2000
    assert got[0] == (0.0, 1.0) and got[1999] == (3998.0, 5998.0)
    whole = {r.record_idx: (r.geom.coords[0], r.geom.coords[1])
             for r in readers.read_shp(spark, path).collect()}
    assert got == whole


def _pip_inputs(spark):
    from geozero_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    return (Q.points_df(spark, sf).select("url", "lon", "lat"),
            Q.zones_decoded(spark, sf).select("zone_id", "poly"))


def _plan_text(df):
    """The optimized logical plan with expression ids dropped, so two
    calls that build the same plan compare equal."""
    import re

    return re.sub(r"#\d+L?", "",
                  df._jdf.queryExecution().optimizedPlan().toString())


def test_pip_paths_identical_rows(spark, monkeypatch):
    """Broadcast, shuffle+salt, and shuffle with the cover-cell
    prefilter (forced by a zero size threshold) must return the same
    (doc, zone) pairs; the prefilter only prunes points that cannot
    match (bbox-cover semi-join is conservative)."""
    from geozero_spark import queries as Q
    from geozero_spark.operators import pip_join as pj

    pts, polys = _pip_inputs(spark)
    base = {(r.url, r.zone_id) for r in
            pj.pip_join(pts, polys, res=Q.PIP_RES).collect()}
    assert base
    default = pj._PREFILTER_AUTO_BYTES
    for auto_bytes, salt in ((default, 4), (0, 4), (0, 0)):
        monkeypatch.setattr(pj, "_PREFILTER_AUTO_BYTES", auto_bytes)
        got = {(r.url, r.zone_id) for r in
               pj.pip_join(pts, polys, res=Q.PIP_RES,
                           broadcast_polys=False, salt=salt).collect()}
        assert got == base, (auto_bytes, salt)


def test_pip_broadcast_plan_ignores_salt(spark):
    """The broadcast path never shuffles the points, so ``salt`` leaves
    its plan alone: no ``_salt`` column and no cover explode."""
    from geozero_spark import queries as Q
    from geozero_spark.operators import pip_join as pj

    pts, polys = _pip_inputs(spark)
    plain, salted = (_plan_text(pj.pip_join(pts, polys, res=Q.PIP_RES,
                                            salt=s)) for s in (0, 4))
    assert "_salt" not in salted and "Generate" not in salted
    assert salted == plain


def test_pip_prefilter_follows_size_rule(spark, monkeypatch):
    """The shuffle path's cover-cell semi-join is decided by the points
    side's size estimate alone: none at the default threshold on
    sf0.001, one when the threshold is 0, and no caller switch."""
    import inspect

    from geozero_spark import queries as Q
    from geozero_spark.operators import pip_join as pj

    assert "prefilter" not in inspect.signature(pj.pip_join).parameters
    pts, polys = _pip_inputs(spark)

    def plan():
        return _plan_text(pj.pip_join(pts, polys, res=Q.PIP_RES,
                                      broadcast_polys=False))

    assert "LeftSemi" not in plan()
    monkeypatch.setattr(pj, "_PREFILTER_AUTO_BYTES", 0)
    assert "LeftSemi" in plan()


def test_pip_shuffle_passes_point_columns_through(spark):
    """The shuffle path's Arrow refine returns the point columns with
    their Spark types: a nullable int stays int, and a timestamp read
    in a non-UTC session time zone keeps its instant."""
    import datetime

    from geozero_spark.kernel import structrepr as sr
    from geozero_spark.kernel import wkt as kwkt
    from geozero_spark.operators import pip_join as pj

    polys = spark.createDataFrame(
        [(7, sr.to_struct(kwkt.decode("POLYGON((0 0,4 0,4 4,0 4,0 0))")))],
        f"zone_id long, poly struct<{sr.GEOMETRY_DDL}>")
    ts = datetime.datetime(2024, 5, 1, 12, 30)
    pts = spark.createDataFrame(
        [("a", 1.0, 1.0, None, ts), ("b", 2.0, 3.0, 5, ts),
         ("c", 9.0, 9.0, 6, ts)],
        "url string, lon double, lat double, n int, ts timestamp")
    want = sorted((r.url, r.n, r.ts) for r in pts.collect()
                  if r.url != "c")
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        rows = pj.pip_join(pts, polys, res=4,
                           broadcast_polys=False).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert sorted((r.url, r.n, r.ts) for r in rows) == want
    assert {r.zone_id for r in rows} == {7}


def test_media_meta_malformed_rows_null_not_fail(spark):
    """A malformed or NULL media blob must yield NULL metadata, not a
    task failure (real decoders routinely meet broken blobs)."""
    from geozero_spark.operators import media
    df = spark.createDataFrame(
        [(1, bytearray(b"VID1;w=32;h=16;f=2;pp")),
         (2, bytearray(b"NOT A CONTAINER")),
         (3, None)],
        "doc_id long, media binary")
    rows = {r.doc_id: r for r in media.media_meta(df).collect()}
    assert len(rows) == 3
    assert rows[1].width == 32 and rows[1].thumb_w == 64 \
        and rows[1].thumb_h == 32 and rows[1].sample_sum == 1
    assert rows[2].kind is None and rows[2].width is None
    assert rows[3].width is None and rows[3].sample_sum is None


def test_pip_broadcast_cache_not_stale(spark, tmpdir_path):
    """The prepared-polygon cache is keyed by DataFrame OBJECT: a
    fresh read of an overwritten path must see the new polygons, never
    a cached stale set (plan-hash keying would alias them)."""
    from geozero_spark.functions import udfs
    from geozero_spark.operators import pip_join as pj

    dec = udfs.st_geomfromwkt()
    path = os.path.join(tmpdir_path, "zones_pq")
    pts = spark.createDataFrame([(1, 0.5, 0.5)], "pid long, "
                                "lon double, lat double")

    def write(wkt_str):
        (spark.createDataFrame([(7, wkt_str)], "zone_id long, w string")
         .write.mode("overwrite").parquet(path))

    def load():
        return (spark.read.parquet(path)
                .withColumn("poly", dec("w")).select("zone_id", "poly"))

    write("POLYGON((0 0,1 0,1 1,0 1,0 0))")   # contains (0.5, 0.5)
    assert pj.pip_join(pts, load(), res=4).count() == 1
    write("POLYGON((5 5,6 5,6 6,5 6,5 5))")   # far away
    assert pj.pip_join(pts, load(), res=4).count() == 0
    # same OBJECT reuse is served from cache and stays correct
    polys = load()
    assert pj.pip_join(pts, polys, res=4).count() == 0
    assert pj.pip_join(pts, polys, res=4).count() == 0
