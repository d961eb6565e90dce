"""Per-partition lineage + metrics, and resumable stage outputs.

North-rule requirement: checkpoint per-partition lineage and row-count
metrics so a 10^12-row run can resume without recomputing finished work.

Pattern (no reference analogue — geozero is single-pass/single-process):

- A *stage* writes its output partitioned by a deterministic bucket of
  the stage key (e.g. cell prefix). Each completed bucket directory is
  recorded as a row of the ``_meta/<stage>`` parquet (``META_SCHEMA``)
  with its row count, bucket id and input fingerprint, appended only
  after its files are written and counted.
- ``run_stage`` skips buckets already recorded with the same
  fingerprint — idempotent resume at bucket granularity; a killed run
  redoes only in-flight buckets.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from .strategy import described

# the ``_meta`` rows, declared so no read infers what the writer just
# wrote. A DDL string, not a StructType: parsing DDL needs a live
# SparkContext, and this module is imported before any session exists
META_SCHEMA = ("stage string, bucket int, rows long, wall_s double, "
               "fingerprint string, ts double")


def meta_path(base: str, stage: str) -> str:
    return f"{base}/_meta/{stage}"


def completed_buckets(spark: SparkSession, base: str, stage: str,
                      fingerprint: str) -> set[int]:
    """Buckets recorded for ``fingerprint``, or none when ``_meta`` was
    never written; every other read error raises (resume accounting
    must not turn an I/O failure into 'nothing written'). One job: a
    plain collect deduplicated here, not by a distinct (whose exchange
    AQE splits into two more jobs)."""
    try:
        m = stage_metrics(spark, base, stage)
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return set()
        raise
    with described(spark, f"run_stage {stage}: completed buckets"):
        rows = (m.where(F.col("fingerprint") == fingerprint)
                .select("bucket").collect())
    return {r.bucket for r in rows}


def _bucket_dirs(spark: SparkSession, path: str, buckets: list):
    """(bucket, FileSystem, Path) of each ``path/bucket=b`` directory."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    for b in buckets:
        p = jpath(f"{path}/bucket={b}")
        yield b, p.getFileSystem(hconf), p


def run_stage(spark: SparkSession, df: DataFrame, base: str, stage: str,
              bucket_col: str, n_buckets: int, fingerprint: str) -> list:
    """Write df bucketed by pmod(xxhash64(bucket_col), n_buckets);
    skip buckets already recorded for this fingerprint. Returns metric
    rows [(bucket, rows, wall_s)]. Output: ``base/stage/bucket=i``
    parquet.

    ONE pass over the input: the write consumes df directly (no
    persist, no separate count job — round 5 cached the whole input
    and ran a groupBy-count first), placed by id (``repartitionById``)
    into n_buckets x fanout slots, one per task, so each task writes
    ONE file of one bucket instead of every task opening every bucket
    (tasks x buckets small files — 512 at the bench shape, the guide
    §6 small-files trap). fanout is sized so write parallelism still
    matches the cluster. Metric counts come from the written parquet
    footers with no Spark job: one list per pending bucket plus one
    footer open per file (n_buckets x fanout files), serially on the
    driver. The ``_meta`` rows are appended after the counts, so a run
    killed before the append leaves its buckets pending. wall_s is the
    shared wall of the combined write, recorded on every bucket row.

    Jobs: a first write 3 (the write's exchange and files, the
    append), a full resume 1 (the ``_meta`` read), a partial resume 4.
    The write and the append run as ``run_stage <stage>: write`` and
    ``run_stage <stage>: _meta`` (job descriptions).

    When every bucket is pending there is no filter. A partial resume
    drops the done buckets after the exchange, on the slot's partition
    id (``spark_partition_id() div fanout``), never on the bucket
    expression before it: a deterministic bucket predicate is pushed
    below the exchange and re-inlines the key's derived tree (a Morton
    cell is a deep staged projection) into the Filter until the
    optimizer runs out of heap. Trade-off: on a partial resume the
    done buckets' rows still cross the shuffle; the input is
    recomputed in full either way, since nothing is persisted."""
    if "bucket" in df.columns:
        raise ValueError(
            "run_stage derives its own 'bucket' partition column; the "
            "input DataFrame already has one (it would be silently "
            "overwritten and lost in the staged output) — rename it "
            "before staging")
    done = completed_buckets(spark, base, stage, fingerprint)
    todo = [b for b in range(n_buckets) if b not in done]
    if not todo:
        return []
    t0 = time.perf_counter()
    # clear pending bucket dirs up front: dynamic overwrite only
    # replaces partitions that receive rows THIS run, so a stale dir
    # from a previous fingerprint whose bucket is now empty would
    # survive (and poison the footer counts below)
    for _, fs, p in _bucket_dirs(spark, f"{base}/{stage}", todo):
        fs.delete(p, True)
    bdf = df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(bucket_col)),
                         F.lit(n_buckets)).cast("int"))
    # fanout keeps the write as wide as the cluster when n_buckets is
    # small: n_buckets * fanout slots, each placed by id in its own
    # partition -> one output file per task. The sub-key hash is
    # seeded apart from the bucket's (unseeded, it is a function of
    # the bucket whenever fanout and n_buckets share a factor)
    par = spark.sparkContext.defaultParallelism
    fanout = max(1, -(-par // n_buckets))
    slot = (F.col("bucket") * fanout
            + F.pmod(F.xxhash64(F.col(bucket_col), F.lit(1)),
                     F.lit(fanout))).cast("int")
    out = bdf.repartitionById(n_buckets * fanout, slot)
    if len(todo) < n_buckets:
        # nondeterministic, so never pushed below the exchange (see
        # the docstring)
        out = out.where(F.expr(f"spark_partition_id() div {fanout}")
                        .isin(todo))
    with described(spark, f"run_stage {stage}: write"):
        (out.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(f"{base}/{stage}"))
    counts = bucket_counts(spark, f"{base}/{stage}", todo)
    wall = round(time.perf_counter() - t0, 3)
    now = time.time()
    rec = spark.createDataFrame(
        [(stage, b, counts.get(b, 0), wall, fingerprint, now)
         for b in todo], META_SCHEMA)
    with described(spark, f"run_stage {stage}: _meta"):
        rec.write.mode("append").parquet(meta_path(base, stage))
    return [(b, counts.get(b, 0), wall) for b in todo]


def bucket_counts(spark: SparkSession, path: str, buckets: list) -> dict:
    """{bucket: rows} on disk under ``path/bucket=b``, summed from the
    parquet footers with no Spark job: one list per pending bucket plus
    one footer open per file (n_buckets x fanout files), serially on
    the driver. Names starting with ``_`` or ``.`` are skipped, as
    Spark's file index skips them. A bucket with no directory is absent
    (0 rows); a footer that cannot be read raises."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    open_file = jvm.org.apache.parquet.hadoop.ParquetFileReader.open
    input_file = jvm.org.apache.parquet.hadoop.util.HadoopInputFile
    counts = {}
    for b, fs, p in _bucket_dirs(spark, path, buckets):
        if not fs.exists(p):
            continue
        n = 0
        for st in fs.listStatus(p):
            if st.getPath().getName().startswith(("_", ".")):
                continue
            r = open_file(input_file.fromStatus(st, hconf))
            try:
                n += r.getRecordCount()
            finally:
                r.close()
        counts[b] = n
    return counts


def stage_metrics(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return spark.read.schema(META_SCHEMA).parquet(meta_path(base, stage))
