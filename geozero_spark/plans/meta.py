"""Per-partition lineage + metrics, and resumable stage outputs.

North-rule requirement: checkpoint per-partition lineage and row-count
metrics so a 10^12-row run can resume without recomputing finished work.

Pattern (no reference analogue — geozero is single-pass/single-process):

- A *stage* writes its output partitioned by a deterministic bucket of
  the stage key (e.g. cell prefix). Each completed bucket directory is
  recorded in ``_meta/<stage>.parquet`` with its row count, bucket id
  and input fingerprint.
- ``run_stage`` skips buckets already recorded with the same
  fingerprint — idempotent resume at bucket granularity; a killed run
  redoes only in-flight buckets.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

# the two ways a path holds no output: never written, or written by a
# job with no rows (a directory without data files)
_NO_OUTPUT = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")


def meta_path(base: str, stage: str) -> str:
    return f"{base}/_meta/{stage}"


def _read_output(spark: SparkSession, path: str) -> DataFrame | None:
    """``path`` as parquet, or None when it holds no output. Every
    other read error raises: resume accounting must not turn an I/O
    failure into 'nothing written'."""
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() in _NO_OUTPUT:
            return None
        raise


def completed_buckets(spark: SparkSession, base: str, stage: str,
                      fingerprint: str) -> set[int]:
    m = _read_output(spark, meta_path(base, stage))
    if m is None:
        return set()
    return {r.bucket for r in
            m.where(F.col("fingerprint") == fingerprint)
            .select("bucket").distinct().collect()}


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
    footers — a partition-pruned count(*) touches metadata only.
    wall_s is the shared wall of the combined write, recorded on every
    bucket row it covered.

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
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    hconf = spark._jsc.hadoopConfiguration()
    for b in todo:
        p = jpath(f"{base}/{stage}/bucket={b}")
        p.getFileSystem(hconf).delete(p, True)
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
    (out.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("bucket").parquet(f"{base}/{stage}"))
    counts = bucket_counts(spark, f"{base}/{stage}", todo)
    wall = round(time.perf_counter() - t0, 3)
    now = time.time()
    rec = spark.createDataFrame(
        [(stage, b, counts.get(b, 0), wall, fingerprint, now)
         for b in todo],
        "stage string, bucket int, rows long, wall_s double, "
        "fingerprint string, ts double")
    rec.write.mode("append").parquet(meta_path(base, stage))
    return [(b, counts.get(b, 0), wall) for b in todo]


def bucket_counts(spark: SparkSession, path: str, buckets: list) -> dict:
    """{bucket: rows} written under ``path`` for ``buckets``, from the
    parquet footers; {} when nothing was written there."""
    out = _read_output(spark, path)
    if out is None:
        return {}
    return {r.bucket: r.cnt for r in
            out.where(F.col("bucket").isin(buckets))
            .groupBy("bucket").agg(F.count("*").alias("cnt")).collect()}


def stage_metrics(spark: SparkSession, base: str, stage: str) -> DataFrame:
    return spark.read.parquet(meta_path(base, stage))
