"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100TB target, applied identically on local[N]:
AQE on (runtime re-plan + skew-join splitting), partition coalescing,
Arrow batching for the Arrow-UDF codec path, and a shuffle-partition
count the caller sizes to the cluster (defaults to cores on local).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def make_session(app: str = "geozero-spark", cpus: int | None = None,
                 shuffle_partitions: int | None = None,
                 extra: dict | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (SparkSession.builder
         .master(f"local[{cpus}]")
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         # keep AQE's parallelism-first coalescing, but drop the 1MB
         # min-partition floor to 64k: a CPU-bound Arrow-UDF stage
         # (PIP refine, kNN top-k) downstream of a small-by-bytes
         # shuffle otherwise collapses to a handful of Python workers
         # (measured 3.4x on the pip_join shuffle path). At production
         # partition sizes the parallelism-first target dominates and
         # this floor is never the binding constraint.
         .config("spark.sql.adaptive.coalescePartitions."
                 "minPartitionSize", "64k")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
         # local[N] packs the WHOLE executor fleet into one JVM, so
         # heap should scale with N the way a cluster scales executor
         # heaps with executor count — at the old flat 8g the 32-core
         # heavy shuffle/Python queries ran ~25-35% slower than at
         # 16-20g (GC pressure from 32 task threads + persisted
         # inputs). Capped at 20g: far larger heaps (measured at 36g)
         # pay multi-second first-collection page-fault storms that
         # dwarf the GC win. Env-overridable; on a real cluster
         # spark.executor.memory is the knob and this default is moot.
         .config("spark.driver.memory",
                 os.environ.get("SPARK_DRIVER_MEM",
                                f"{max(8, min(20, 4 + cpus // 2))}g"))
         .config("spark.ui.enabled", "false"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
