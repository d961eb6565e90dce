"""What several operators share about bringing data to the driver: the
one broadcast-side bound, the one guard for a bounded collect, and the
job description that names an eager action.

A broadcast side reaches the driver only through ``collect_bounded``:
``limit(bound + 1).toArrow()`` is one job whatever the scan's file
count (``take`` and ``limit().count()`` each took two on a 4-file
parquet scan), it is named in the Spark UI by its ``what``, and a side
over its bound fails loudly instead of filling the driver. Thresholds
that a single operator reads stay in that operator's module."""

from __future__ import annotations

import contextlib

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

# most rows a broadcast side (kNN and cosine queries, PIP polygons)
# brings to the driver
BROADCAST_ROWS = 100_000


class BoundExceeded(RuntimeError):
    """A driver collect went over its declared bound."""


def check_bound(what: str, n: int, bound: int) -> None:
    if n > bound:
        raise BoundExceeded(f"{what}: driver collected {n} rows, over "
                            f"its declared bound of {bound}")


@contextlib.contextmanager
def described(spark: SparkSession, text: str):
    """The body's jobs run as ``text``; the caller's description
    (setJobGroup sets one) comes back after. The job group is kept."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.job.description", text)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def collect_bounded(df: DataFrame, bound: int, what: str) -> pa.Table:
    """At most ``bound`` rows of ``df`` as one Arrow table, collected in
    one job described as ``what``; a larger ``df`` raises
    BoundExceeded."""
    with described(df.sparkSession, what):
        tbl = df.limit(bound + 1).toArrow()
    check_bound(what, tbl.num_rows, bound)
    return tbl
