"""bbox selection with cell-range pruning — the reference's pushdown
surfaces (§2.4: FlatGeobuf select_bbox, GPKG r-tree join, PostGIS &&,
GeoParquet row filter) as Spark scan pruning.

Two layers:
- ``write_cell_partitioned``: persist a dataset directory-partitioned
  by its coarse Morton cell and sorted by the fine cell inside each
  partition. Parquet then stores tight min/max cell stats per row
  group; a later bbox query prunes directories via the coarse-cell
  IN-list and row groups via the cell-interval predicate (Catalyst
  pushes the BETWEEN to the scan) — the columnar analogue of the
  packed-Hilbert R-tree.
- ``bbox_filter`` / ``read_bbox_partitioned``: the conservative
  cell-interval predicate (few Morton ranges covering the bbox) plus
  the exact lon/lat bbox refine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import cols
from ..functions import sqlgen as sg
from ..kernel import cells as kcells


def bbox_cell_intervals(xmin: float, ymin: float, xmax: float,
                        ymax: float, res: int):
    """Few [lo, hi] cell-id intervals at ``res`` covering the bbox:
    cover at resolution ``res - 4``, then widen each coarse cell to
    its descendant range (kernel.cells.cell_range)."""
    cover = kcells.cover_bbox(xmin, ymin, xmax, ymax, max(res - 4, 0))
    ivals = sorted(kcells.cell_range(c, res) for c in cover)
    merged = [list(ivals[0])]
    for lo, hi in ivals[1:]:
        if lo <= merged[-1][1] + 1:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])
    return [(lo, hi) for lo, hi in merged]


def bbox_filter(df: DataFrame, xmin: float, ymin: float, xmax: float,
                ymax: float, res: int, lon: str = "lon",
                lat: str = "lat", cell: str = "cell",
                pushdown_form: bool = True) -> DataFrame:
    """Cell-interval prefilter + exact bbox refine.

    pushdown_form=True emits plain OR-of-BETWEENs — required for
    parquet row-group/file pruning, and safe when ``cell`` is a STORED
    column (read_bbox_partitioned). For an on-the-fly cell expression
    pass pushdown_form=False: filter pushdown substitutes the full Morton
    expression at every reference, and the repeated deep tree sends the
    optimizer/codegen into minutes of plan compilation (or heap OOM);
    the ``exists()`` lambda form references ``cell`` exactly once."""
    ivals = bbox_cell_intervals(xmin, ymin, xmax, ymax, res)
    if pushdown_form:
        pred = " OR ".join(
            f"({cell} BETWEEN {lo} AND {hi})" for lo, hi in ivals)
    else:
        arr = ", ".join(
            f"named_struct('lo', CAST({lo} AS BIGINT), "
            f"'hi', CAST({hi} AS BIGINT))" for lo, hi in ivals)
        pred = (f"exists(array({arr}), "
                f"r -> {cell} >= r.lo AND {cell} <= r.hi)")
    exact = (F.col(lon) >= xmin) & (F.col(lon) <= xmax) & \
            (F.col(lat) >= ymin) & (F.col(lat) <= ymax)
    return df.where(F.expr(pred)).where(exact)


# ---------------------------------------------------------------------------
# Iceberg-style partitioned layout (directory partition pruning)
# ---------------------------------------------------------------------------

def write_cell_partitioned(df: DataFrame, path: str, res: int,
                           prefix_res: int, lon: str = "lon",
                           lat: str = "lat") -> None:
    """Hive/Iceberg-style layout: directory-partition by the COARSE cell
    (`cell_prefix=<id>/`), sort by the fine cell inside each partition.
    A bbox query then prunes whole directories via PartitionFilters and
    row groups via the sorted fine-cell min/max stats — two pruning
    levels, the same shape an Iceberg partition spec + sort order gives
    at 10^12 rows."""
    out = cols.with_cell_col(df, lon, lat, res)
    out = out.withColumn(
        "cell_prefix",
        F.expr(sg.cell_parent("cell", res, res - prefix_res, sg.SPARK)))
    (out.repartition("cell_prefix")
        .sortWithinPartitions("cell")
        .write.mode("overwrite")
        .partitionBy("cell_prefix").parquet(path))


def read_bbox_partitioned(spark: SparkSession, path: str, xmin: float,
                          ymin: float, xmax: float, ymax: float,
                          res: int, prefix_res: int,
                          lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Scan with BOTH pruning levels: partition-directory pruning on the
    coarse-cell IN-list + row-group pruning on the fine-cell intervals +
    exact refine."""
    prefixes = kcells.cover_bbox(xmin, ymin, xmax, ymax, prefix_res)
    df = spark.read.parquet(path).where(
        F.col("cell_prefix").isin(prefixes))
    return bbox_filter(df, xmin, ymin, xmax, ymax, res, lon, lat)
