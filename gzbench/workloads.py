"""The two workloads: what one pass runs and how its outputs are
checked.

A workload is built from ``(seed, size)`` and used in four steps:

- ``prepare(run_dir)``: write the seeded input files with numpy and
  pyarrow, before Spark starts (preparation, not set-up);
- ``generate(spark)``: input files that need Spark (the synthetic
  pages table); also preparation;
- ``load(spark, rec)``: set-up proper: open the inputs and write the
  cell-partitioned table the viewport reads;
- ``run_pass(rec)``: one pass, as a list of spans.

Every pass compares each operation's fingerprint with the first
pass's, plus the cross-path checks that hold within a pass.
``check(rec)`` runs once after the timed passes and compares outputs
with independent numpy answers.
"""

from __future__ import annotations

import shutil

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geozero_spark import queries as Q
from geozero_spark.functions import cols as C, udfs
from geozero_spark.operators import (bbox_select, dedup, knn, pip_join,
                                     raster, similarity, textstats,
                                     tiling)
from geozero_spark.plans import meta
from geozero_spark.sources import pages as P

from . import inputs, oracle
from .spans import CheckFailed

# Input sizes. FULL is what the benchmark command runs; TINY keeps the
# smoke test short. Sizes never depend on the seed.
FULL = {
    "geo": {"docs": 1000, "clones": 5},
    "corpus": {"docs": 300, "clones": 8, "vectors": 4000,
               "queries": 16},
}
TINY = {
    "geo": {"docs": 200, "clones": 2},
    "corpus": {"docs": 100, "clones": 4, "vectors": 800, "queries": 4},
}

ID_SPAN = 10**7  # id block per seed; larger than any workload's rows
K = 5            # top-k of every vector search
KNN_K = 3
KNN_MOD = 101    # doc_id % KNN_MOD == 0 -> kNN query
MVT_Z = 3
RASTER_Z = 3
STAGE_BUCKETS = 4
PIP_SALT = 4
PREFIX_RES = 2   # directory level of the cell-partitioned table
HOT = ((13.0, 67.0), (-92.0, 2.0), (143.0, -63.0))  # pages.py hot spots


class Workload:
    name = ""

    def __init__(self, seed: int, size: dict):
        self.seed = seed
        self.size = size
        self.base = inputs.id_base(seed, ID_SPAN)
        self.first: dict[str, tuple] = {}
        self.spark = None

    def prepare(self, run_dir: str) -> None:
        self.dir = run_dir

    def generate(self, spark) -> None:
        self.spark = spark

    def pass_rows(self) -> int:
        """Input rows one pass processes."""
        raise NotImplementedError

    def compare(self, spans) -> None:
        """Fingerprints must repeat exactly on every pass."""
        for span in spans:
            ref = self.first.setdefault(span.name, span.fingerprint)
            if span.fingerprint != ref:
                raise CheckFailed(f"{span.name}: output {span.fingerprint}"
                                  f" differs from the first pass's {ref}")

    def fingerprints(self) -> dict:
        return {k: list(v) for k, v in sorted(self.first.items())}


class Geo(Workload):
    """Batch north-rule pipeline over the synthetic pages table
    (``docs * clones`` pages, ids contiguous from ``base``): decode,
    codec chain, PIP on both paths, viewport read, cell/tile counts,
    MVT, raster tiles, grid kNN and a resumable stage write plus its
    resume."""

    name = "geo"

    def prepare(self, run_dir: str) -> None:
        super().prepare(run_dir)
        inputs.write(inputs.documents(self.size["docs"], self.base),
                     f"{run_dir}/src/documents.parquet")
        inputs.write(inputs.nations(), f"{run_dir}/src/nation.parquet")
        # one viewport on a hot spot, one on a sparse area
        rng = np.random.default_rng(self.seed + 7)
        hx, hy = HOT[rng.integers(0, len(HOT))]
        centres = ((hx + rng.uniform(-0.5, 0.5), hy + rng.uniform(-0.5, 0.5)),
                   (rng.uniform(-150, 150), rng.uniform(-70, 70)))
        self.views = [(cx - 2.0, cy - 1.5, cx + 2.0, cy + 1.5)
                      for cx, cy in centres]

    def generate(self, spark) -> None:
        super().generate(spark)
        (P.pages_df(spark, f"{self.dir}/src", clones=self.size["clones"])
         .write.parquet(f"{self.dir}/pages"))

    def load(self, spark, rec) -> None:
        self.pages = spark.read.parquet(f"{self.dir}/pages")
        self.polys = Q.zones_decoded(spark, f"{self.dir}/src").select(
            "zone_id", "poly")
        self.table = f"{self.dir}/table"
        bbox_select.write_cell_partitioned(
            self._points(), self.table, res=Q.CELL_RES,
            prefix_res=PREFIX_RES)
        self.passes = 0

    @property
    def n_pages(self) -> int:
        return self.size["docs"] * self.size["clones"]

    def page_ids(self) -> np.ndarray:
        return np.arange(self.base, self.base + self.n_pages,
                         dtype=np.int64)

    def pass_rows(self) -> int:
        return self.n_pages

    def _points(self):
        return Q.points_from_pages(self.pages).select(
            "doc_id", "xc", "yc", "lon", "lat")

    def _codec(self):
        dec, wkb = udfs.st_geomfromwkt(), udfs.st_aswkb()
        dwkb, gj = udfs.st_geomfromwkb(), udfs.st_asgeojson()
        return (self.pages
                .select("url", F.regexp_extract("text", Q.LOC_RE, 1)
                        .alias("wkt"))
                .select("url", gj(dwkb(wkb(dec("wkt")))).alias("json")))

    def _pip(self, broadcast: bool):
        return pip_join.pip_join(
            self._points(), self.polys, res=Q.PIP_RES,
            broadcast_polys=broadcast,
            salt=0 if broadcast else PIP_SALT).select("doc_id", "zone_id")

    def _viewports(self):
        hot, sparse = (bbox_select.read_bbox_partitioned(
            self.spark, self.table, *v, res=Q.CELL_RES,
            prefix_res=PREFIX_RES).select("doc_id", "lon", "lat")
            for v in self.views)
        return hot.unionByName(sparse)

    def _knn(self, method: str = "grid"):
        pts = self._points()
        q = pts.where(F.col("doc_id") % KNN_MOD == 0).select(
            F.col("doc_id").alias("q_id"), F.col("xc").alias("qx"),
            F.col("yc").alias("qy"))
        t = pts.select(F.col("doc_id").alias("t_id"),
                       F.col("xc").alias("tx"), F.col("yc").alias("ty"))
        return knn.knn_join(q, t, k=KNN_K, res=None, max_radius=16,
                            method=method)

    def _run_stage(self, base: str) -> list:
        return meta.run_stage(self.spark, self._points(), base, "pts",
                              bucket_col="doc_id", n_buckets=STAGE_BUCKETS,
                              fingerprint="gzbench")

    def _stage(self, base: str) -> int:
        return sum(r for _, r, _ in self._run_stage(base))

    def _resume(self, base: str) -> int:
        pending = self._run_stage(base)
        done = meta.completed_buckets(self.spark, base, "pts", "gzbench")
        if pending or len(done) != STAGE_BUCKETS:
            raise CheckFailed(f"meta.stage_resume: rewrote {len(pending)} "
                              f"buckets, {len(done)} recorded complete")
        return len(done)

    def run_pass(self, rec) -> list:
        out = [
            rec.op("queries.decode_points", self._points),
            rec.op("udfs.codec", self._codec),
            rec.op("pip_join.broadcast", lambda: self._pip(True)),
            rec.op("pip_join.shuffle", lambda: self._pip(False)),
            rec.op("bbox_select.viewport", self._viewports),
            rec.op("cols.cell_counts", lambda: C.with_cell_col(
                self._points(), "lon", "lat", Q.CELL_RES)
                .groupBy("cell").count()),
            rec.op("tiling.tile_counts", lambda: tiling.with_tile_eq(
                self._points(), "lon", "lat", Q.TILE_Z + 2)
                .groupBy("z", "x", "y").count()),
            rec.op("tiling.mvt", lambda: tiling.mvt_tiles(
                Q.geos_from_pages(self.pages).select("url", "geom"),
                MVT_Z, key="url", max_features=4096)
                .withColumn("mvt_bytes", F.length("mvt")),
                sums=("mvt_bytes",)),
            rec.op("raster.tiles", lambda: raster.rasterize_tiles(
                self._points(), z=RASTER_Z, grid=16)),
            rec.op("knn.grid", self._knn),
        ]
        base = f"{self.dir}/stage{self.passes}"
        self.passes += 1
        out.append(rec.timed("meta.stage_write",
                             lambda: self._stage(base)))
        out.append(rec.timed("meta.stage_resume",
                             lambda: self._resume(base)))
        shutil.rmtree(base, ignore_errors=True)
        self.compare(out)
        by = {s.name: s for s in out}
        if (by["pip_join.broadcast"].fingerprint
                != by["pip_join.shuffle"].fingerprint):
            raise CheckFailed("pip_join: broadcast and salted shuffle "
                              "outputs differ")
        if by["meta.stage_write"].rows != self.n_pages:
            raise CheckFailed(f"meta.stage_write: wrote "
                              f"{by['meta.stage_write'].rows} of "
                              f"{self.n_pages} rows")
        return out

    def check(self, rec) -> None:
        x, y = oracle.page_xy(self.page_ids())
        got = self._points().agg(F.count(F.lit(1)), F.sum("xc"),
                                 F.sum("yc")).first()
        want = (len(x), int(x.sum()), int(y.sum()))
        if tuple(int(v) for v in got) != want:
            raise CheckFailed(f"queries.decode_points: (rows, sum x, "
                              f"sum y) {tuple(got)} != numpy {want}")
        n_pip = self.first["pip_join.broadcast"][0]
        if n_pip != oracle.pip_pairs(x, y):
            raise CheckFailed(f"pip_join: {n_pip} pairs, numpy "
                              f"{oracle.pip_pairs(x, y)}")
        n_view = sum(int(oracle.in_bbox(x, y, v).sum()) for v in self.views)
        if self.first["bbox_select.viewport"][0] != n_view:
            raise CheckFailed(f"bbox_select.viewport: "
                              f"{self.first['bbox_select.viewport'][0]} "
                              f"rows, numpy {n_view}")
        n_q = int((self.page_ids() % KNN_MOD == 0).sum())
        if self.first["knn.grid"][0] != KNN_K * n_q:
            raise CheckFailed("knn.grid: not k rows per query")
        bc = rec.op("knn.broadcast_check", lambda: self._knn("broadcast"))
        if bc.fingerprint != self.first["knn.grid"]:
            raise CheckFailed("knn: grid and broadcast outputs differ")
        if self.first["udfs.codec"][0] != self.n_pages:
            raise CheckFailed("udfs.codec: row count")


class Corpus(Workload):
    """Batch text and vector pipeline: quality stats, exact dedup,
    MinHash-LSH pairs, duplicate clusters, then exact-cosine, LSH and
    IVF top-k searches."""

    name = "corpus"

    def prepare(self, run_dir: str) -> None:
        super().prepare(run_dir)
        s = self.size
        base = inputs.documents(s["docs"], self.base)
        # every 4th clone keeps its raw text: exact-duplicate groups
        docs = inputs.cloned_corpus(base, s["clones"], raw_every=4)
        self.n_docs = docs.num_rows
        self.n_distinct = len(set(docs.column("text").to_pylist()))
        inputs.write(docs, f"{run_dir}/docs.parquet",
                     row_group=max(1, docs.num_rows // 8))
        emb = inputs.embeddings(self.seed, s["vectors"], self.base)
        inputs.write(emb, f"{run_dir}/emb.parquet",
                     row_group=max(1, emb.num_rows // 8))
        # query rows: an evenly spaced, seed-offset subset
        step = s["vectors"] // s["queries"]
        self.q_mod = step
        self.q_rem = self.seed % step

    def load(self, spark, rec) -> None:
        self.docs = spark.read.parquet(f"{self.dir}/docs.parquet")
        emb = spark.read.parquet(f"{self.dir}/emb.parquet")
        rel = F.col("vec_id") - F.lit(self.base)
        self.q = emb.where(rel % self.q_mod == self.q_rem).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec"))
        self.t = emb.select(F.col("vec_id").alias("t_id"),
                            F.col("embedding").alias("tvec"))

    def pass_rows(self) -> int:
        return self.n_docs + self.size["vectors"]

    def _pairs(self):
        return dedup.minhash_lsh_pairs(self.docs, num_perm=16, bands=4,
                                       fast=True)

    def run_pass(self, rec) -> list:
        q, t = self.q, self.t
        out = [
            rec.op("textstats.quality", lambda: textstats.quality_score(
                self.docs).drop("text")),
            rec.op("dedup.exact", lambda: dedup.exact_dedup(
                self.docs, fast=True)),
            rec.op("dedup.minhash", self._pairs),
            rec.op("dedup.clusters", lambda: dedup.dup_clusters(
                self.docs.select("doc_id"), self._pairs())),
            rec.op("similarity.cosine", lambda: similarity.cosine_topk(
                q, t, K)),
            rec.op("similarity.lsh", lambda: similarity.ann_topk(
                q, t, K, dim=inputs.DIM, bits=96, bands=8)),
            rec.op("similarity.ivf", lambda: similarity.ivf_topk(
                q, t, K, k_clusters=8, probe=2, fast=True)),
        ]
        self.compare(out)
        return out

    def check(self, rec) -> None:
        if self.first["dedup.exact"][0] != self.n_distinct:
            raise CheckFailed(f"dedup.exact: {self.first['dedup.exact'][0]}"
                              f" groups, {self.n_distinct} distinct texts")
        if self.first["textstats.quality"][0] != self.n_docs:
            raise CheckFailed("textstats.quality: row count")
        emb = pq.read_table(f"{self.dir}/emb.parquet")
        ids = emb.column("vec_id").to_numpy()
        vecs = np.stack(emb.column("embedding").to_numpy(
            zero_copy_only=False))
        qmask = (ids - self.base) % self.q_mod == self.q_rem
        want = oracle.cosine_top_ids(vecs[qmask], vecs, ids, K,
                                     q_ids=ids[qmask])
        got: dict[int, set] = {}
        for r in similarity.cosine_topk(self.q, self.t, K).collect():
            got.setdefault(int(r["q_id"]), set()).add(int(r["t_id"]))
        if [got.get(int(i), set()) for i in ids[qmask]] != want:
            raise CheckFailed("similarity.cosine: top-k ids differ from "
                              "numpy")


WORKLOADS = {w.name: w for w in (Geo, Corpus)}


def make(name: str, seed: int, size: dict | None = None) -> Workload:
    return WORKLOADS[name](seed, (size or FULL)[name])

