"""Spark-facing function layer.

- sqlgen: dialect-dual SQL snippets (Spark SQL + DuckDB) for cell ids,
  tiles, quadkeys — the hot-path spatial indexing stays JVM-side (no
  Python workers) and the identical expression doubles as the oracle.
- udfs: Arrow-batched UDFs (arrow_udf) wrapping the pure-Python kernel codecs
  (WKB/WKT/GeoJSON <-> geometry struct) — the slow path, used only where
  bit-level format parity is the point.
"""

from . import sqlgen  # noqa: F401


def ensure_width(df):
    """Match a NARROW scan to cluster width before compute-heavy
    per-row work. A small single-row-group parquet yields ONE input
    split regardless of split-size configs (splits are assigned per
    row group), serializing everything between the scan and the next
    exchange on one core — the fate of every direct read of the sf
    documents/embeddings files. A round-robin repartition of the slim
    projected input is orders cheaper than the per-row pipeline it
    unblocks; already-wide inputs (the 100 TB case: thousands of
    splits) pass through untouched, so no exchange is added where the
    data is already parallel (guide §2.4 / §6.1)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= par:
        return df.repartition(par)
    return df
