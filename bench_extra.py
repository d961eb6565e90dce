#!/usr/bin/env python
"""Extra benchmarks for optimization work (guide §1.4): per-query
isolation with the noop sink, explain("formatted") capture, and job
descriptions — bench.py stays frozen for the driver; numbers cited in
OPTIMIZATION_r06.md come from here unless noted.

Usage:
  python bench_extra.py knn knn_grid          # time just these
  python bench_extra.py --explain knn_grid    # dump plan to plans/r06/
  python bench_extra.py --all                 # whole suite, 1 rep

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_CLONES and
SPARK_GRAFT_REPS exactly as bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # the frozen harness: reuse its session/input builders

SF_DIR = bench.SF_DIR
CPUS = bench.CPUS
CLONES = bench.CLONES


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def build_frames(spark):
    """The same inputs core_workload uses, name -> lazy DataFrame
    thunk (so only requested queries pay their upstream)."""
    from pyspark.sql import functions as F

    from geozero_spark import queries as Q
    from geozero_spark.functions import cols as C
    from geozero_spark.operators import (bbox_select as B, dedup, knn,
                                         pip_join, similarity, tiling)

    pages = spark.read.parquet(bench._pages_parquet(spark, CLONES))
    pts = Q.points_from_pages(pages).select(
        "doc_id", "xc", "yc", "lon", "lat").persist()
    pts.count()
    polys = Q.zones_decoded(spark, SF_DIR).select("zone_id", "poly")
    geos = Q.geos_from_pages(pages).select("url", "geom").persist()

    queries = (pts.where(F.col("doc_id") % 101 == 0)
               .select(F.col("doc_id").alias("q_id"),
                       F.col("xc").alias("qx"), F.col("yc").alias("qy")))
    targets = pts.select(F.col("doc_id").alias("t_id"),
                         F.col("xc").alias("tx"), F.col("yc").alias("ty"))

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (emb.where(F.col("vec_id") % 101 == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qvec")))
    tg = emb.select(F.col("vec_id").alias("t_id"),
                    F.col("embedding").alias("tvec"))

    frames = {
        "decode_points": lambda: pts,
        "pip_join": lambda: pip_join.pip_join(pts, polys, res=Q.PIP_RES),
        "pip_join_shuffle": lambda: pip_join.pip_join(
            pts, polys, res=Q.PIP_RES, broadcast_polys=False, salt=8),
        "cell_counts": lambda: C.with_cell_col(pts, "lon", "lat", 8)
        .groupBy("cell").count(),
        "tile_counts": lambda: tiling.with_tile_eq(
            pts, "lon", "lat", 6).groupBy("z", "x", "y").count(),
        "decode_geos": lambda: geos,
        "mvt_tiles": lambda: tiling.mvt_tiles(
            geos, 5, key="url", max_features=4096),
        "knn": lambda: knn.knn_join(
            queries, targets, k=3, res=None, max_radius=16,
            method="auto"),
        "knn_grid": lambda: knn.knn_join(
            queries, targets, k=3, res=None, max_radius=16),
        "minhash_lsh_fast": lambda: dedup.minhash_lsh_pairs(
            docs, num_perm=16, bands=4, fast=True),
        "ann_cosine": lambda: similarity.cosine_topk(q, tg, 5),
        "ann_lsh_fast": lambda: similarity.ann_topk(
            q, tg, 5, dim=64, bits=48, bands=16),
        "bbox_read_pruned": lambda: B.read_bbox_partitioned(
            spark, f"/tmp/gz_bench_cells_{CPUS}",
            -30.0, -20.0, 40.0, 35.0, res=8, prefix_res=4),
        "bbox_read_fullscan": lambda: (
            spark.read.parquet(f"/tmp/gz_bench_cells_{CPUS}")
            .where((F.col("lon") >= -30.0) & (F.col("lon") <= 40.0) &
                   (F.col("lat") >= -20.0) & (F.col("lat") <= 35.0))),
    }
    return frames


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    explain = "--explain" in sys.argv
    use_noop = "--noop" in sys.argv
    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))

    spark = bench._session(CPUS)
    bench._warm_session(spark, CPUS)
    frames = build_frames(spark)
    names = args if args else list(frames)

    out = {}
    for name in names:
        if name not in frames:
            print(f"unknown query {name}", file=sys.stderr)
            continue
        if explain:
            plan = frames[name]()._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
            os.makedirs(f"{REPO}/plans/r06", exist_ok=True)
            path = f"{REPO}/plans/r06/{name}_current.txt"
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path}")
            continue
        walls = []
        for i in range(reps):
            spark.sparkContext.setJobDescription(f"{name} rep{i}")
            t0 = time.perf_counter()
            df = frames[name]()
            if use_noop:
                _noop(df)
                n = None
            else:
                n = df.count()
            walls.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"best": min(walls), "reps": walls, "count": n}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": bench._sf(), "cpus": CPUS,
                      "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
