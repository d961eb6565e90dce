"""ANN quality: recall floor of the banded-LSH path vs exact cosine,
plus parity of the numpy fast signature path with the portable one."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from conftest import SF_DIR
from geozero_spark import queries as Q
from geozero_spark.operators import similarity as S


def test_ann_recall_floor(spark):
    rows = Q.q_ann_recall(spark, SF_DIR).collect()
    assert rows, "no query rows"
    mean = sum(r.recall for r in rows) / len(rows)
    # measured 0.922 at sf0.001 with LSH_BITS=48 / LSH_BANDS=16;
    # deterministic (hash planes), so a drop means the pipeline changed
    assert mean >= 0.85, f"mean recall@{Q.ANN_K} fell to {mean:.3f}"


def test_ann_fast_mode_runs_same_shape(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (e.where(F.col("vec_id") % Q.QUERY_MOD == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qvec")))
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    fast = S.ann_topk(q, t, k=Q.ANN_K, dim=Q.EMB_DIM, portable=False)
    assert fast.columns == ["q_id", "t_id", "cosine", "rank"]
    rows = fast.collect()
    assert rows
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1))
               for v in per_q.values())


def test_ann_ivf_recall_floor(spark):
    """IVF probe search quality: with probe=2 of 8 clusters each query
    scans ~25% of the vectors; on the near-random synthetic embeddings
    that bounds recall well below LSH's, but it must beat the
    scan-fraction baseline by a wide margin (clusters are informative)
    and stay deterministic."""
    rows = Q.q_ann_ivf_recall(spark, SF_DIR).collect()
    assert rows
    mean = sum(r.recall for r in rows) / len(rows)
    frac = Q.IVF_PROBE / Q.IVF_K
    assert mean >= 1.6 * frac, (
        f"mean IVF recall@{Q.ANN_K} {mean:.3f} is not meaningfully "
        f"above the {frac:.2f} scan-fraction baseline")


def test_ann_degenerate_bucket_capped(spark):
    """Adversarial skew: a mass of byte-identical embeddings signs
    identically in every band, so without a cap the bucket join is
    quadratic in the mass. With max_bucket the degenerate buckets are
    dropped from the target side: the run completes with bounded
    candidates and the identical-mass queries simply return no rows
    (standard LSH degradation), while the cap leaves small buckets
    untouched."""
    dim, mass = 8, 500
    e = spark.range(mass + 20).selectExpr(
        "id AS vec_id",
        # ids < mass: the identical vector; others: distinct hash-
        # uniform vectors
        f"IF(id < {mass}, array_repeat(CAST(1.0 AS FLOAT), {dim}), "
        f"transform(sequence(0, {dim - 1}), j -> CAST("
        f"pmod(xxhash64(id, j), 2000) - 1000 AS FLOAT) / 1000.0)) "
        "AS embedding")
    q = (e.where((F.col("vec_id") % 100 == 0))
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qvec")))
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    capped = S.ann_topk(q, t, k=3, dim=dim, bits=16, bands=4,
                        max_bucket=100).collect()
    mass_q = {r.q_id for r in capped if r.q_id < mass}
    assert mass_q == set(), (
        f"identical-mass queries {mass_q} produced candidates through "
        f"a bucket that should have been dropped")
    # uncapped: the same mass queries DO match (1999-way identical
    # candidates) — the quadratic shape the cap exists to avoid
    uncapped = S.ann_topk(q, t, k=3, dim=dim, bits=16, bands=4,
                          max_bucket=None).collect()
    assert any(r.q_id < mass for r in uncapped)
    # distinct vectors keep their candidates under the cap iff their
    # buckets are small: every capped row scores a real cosine
    assert all(r.cosine <= 1.0 + 1e-9 for r in capped)


def test_ivf_fast_matches_portable_assignments(spark):
    """fast=True (Arrow-partial means) must assign every sf vector to the
    same cluster as the portable sorted-fold mode — the float-sum
    reorder only matters at exact cosine ties, which the synthetic
    corpus does not produce."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    c_p = S.ivf_fit(t, Q.IVF_K, iters=Q.IVF_ITERS, fast=False)
    c_f = S.ivf_fit(t, Q.IVF_K, iters=Q.IVF_ITERS, fast=True)
    # centroids agree to float-reassociation tolerance
    p = {r.cid: r.cvec for r in c_p.collect()}
    f = {r.cid: r.cvec for r in c_f.collect()}
    assert p.keys() == f.keys()
    for cid in p:
        assert max(abs(a - b) for a, b in zip(p[cid], f[cid])) < 1e-9
    a_p = S._assign(t, *_centroid_pair(c_p), "t_id", "tvec")
    a_f = S._assign(t, *_centroid_pair(c_f), "t_id", "tvec")
    m_p = {r.t_id: r.cid for r in a_p.collect()}
    m_f = {r.t_id: r.cid for r in a_f.collect()}
    assert m_p == m_f


def _centroid_pair(c):
    """ivf_fit's (cid, cvec) DataFrame as the driver-side (cids, cmat)
    pair _assign closes over, cid-ascending."""
    rows = sorted((r.cid, list(r.cvec)) for r in c.collect())
    return (np.array([k for k, _ in rows], dtype=np.int64),
            np.array([v for _, v in rows], dtype=np.float64))


def _cos_vs_centroid(vec: str, cvec: str) -> str:
    """Spark SQL reference for _assign's cosine: dot and norms as
    ``aggregate`` left folds in array order from 0.0 — the form the
    DuckDB oracle (oracles._cos_vs_cvec) mirrors with list_reduce."""
    dot = (f"aggregate(zip_with({vec}, {cvec}, (x, y) -> "
           f"CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE), "
           f"(acc, v) -> acc + v)")
    vn = (f"aggregate({vec}, CAST(0.0 AS DOUBLE), (acc, v) -> acc + "
          f"CAST(v AS DOUBLE) * CAST(v AS DOUBLE))")
    cn = (f"aggregate({cvec}, CAST(0.0 AS DOUBLE), "
          f"(acc, v) -> acc + v * v)")
    return f"{dot} / (sqrt({vn}) * sqrt({cn}))"


def test_assign_matches_sql_fold_bitwise(spark):
    """The numpy _assign must reproduce the SQL form — crossJoin +
    _cos_vs_centroid interpreted folds + (cos DESC, cid) row_number —
    EXACTLY, row for row, because the ann_ivf oracle mirrors that SQL.
    Covers topn=1 and topn=3 on the sf corpus. A zero-norm vector is
    checked numpy-side only: its cosine is NaN against every centroid
    and it lands on the LOWEST cid (NaN-first DESC order) — the SQL
    form cannot even run that case, ANSI mode raises DIVIDE_BY_ZERO
    on the 0/0."""
    from pyspark.sql import Window

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    dim = len(t.select("tvec").head()[0])
    zero = spark.range(1).selectExpr(
        "id + 1000000 AS t_id",
        f"array_repeat(CAST(0.0 AS FLOAT), {dim}) AS tvec")
    c = S.ivf_fit(t, Q.IVF_K, iters=1, fast=False)
    c = spark.createDataFrame(c.collect(), schema=c.schema)

    def sql_assign(vectors, centroids, topn):
        cand = vectors.select("t_id", "tvec").crossJoin(
            F.broadcast(centroids))
        cand = cand.withColumn(
            "_cos", F.expr(_cos_vs_centroid("tvec", "cvec")))
        w = Window.partitionBy("t_id").orderBy(
            F.col("_cos").desc(), "cid")
        return (cand.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") <= topn).select("t_id", "cid"))

    cids, cmat = _centroid_pair(c)
    for topn in (1, 3):
        got = sorted((r.t_id, r.cid) for r in
                     S._assign(t, cids, cmat, "t_id", "tvec", topn=topn)
                     .collect())
        want = sorted((r.t_id, r.cid) for r in
                      sql_assign(t, c, topn).collect())
        assert got == want, f"topn={topn} mismatch"
    low_cids = sorted(r.cid for r in c.collect())[:1]
    zero_rows = [r.cid for r in
                 S._assign(zero, cids, cmat, "t_id", "tvec").collect()]
    assert zero_rows == low_cids


def test_ivf_fast_plan_has_no_collect_list(spark):
    """The scale mode's Lloyd round must be ONE MapInArrow over the
    scan: no collect_list (the per-cluster memory bomb), no Aggregate
    and no Exchange anywhere in its plan — the driver merges the
    per-partition partials. The portable mode keeps collect_list —
    that IS the oracle's sorted fold."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    cids, cmat = S._ivf_centroids(t, Q.IVF_K, 0, "t_id", "tvec", True)
    qe = S._lloyd_partials(t, cmat, "tvec")._jdf.queryExecution()
    opt = qe.optimizedPlan()
    assert "collect_list" not in opt.toString()
    names = [n.nodeName() for n in _plan_nodes(opt)]
    # MapInArrow -> Project* -> the scan: no Aggregate, no second pass
    assert names[0] == "MapInArrow", names
    assert names[-1] == "LogicalRelation", names
    assert set(names[1:-1]) <= {"Project"}, names
    assert "Exchange" not in qe.executedPlan().toString()
    a = S._assign(t, cids, cmat, "t_id", "tvec")
    slow_plan = S._centroid_means(a, t, "t_id", "tvec") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in slow_plan


def test_ivf_topk_fast_job_budget(spark):
    """ivf_topk(fast=True) plus one action runs at most 9 Spark jobs:
    the seed collect, one Arrow pass per Lloyd round (the centroids stay
    on the driver, so nothing re-collects them), and the rerank tail.
    The driver collects are named after ivf_fit; the rest keep the
    caller's description."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = (e.where(F.col("vec_id") % Q.QUERY_MOD == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("qvec")))
    t = e.select(F.col("vec_id").alias("t_id"),
                 F.col("embedding").alias("tvec"))
    sc = spark.sparkContext
    group = "test-ivf-topk-fast-job-budget"
    sc.setJobGroup(group, "ivf_topk fast=True")
    try:
        rows = S.ivf_topk(q, t, Q.ANN_K, k_clusters=Q.IVF_K,
                          probe=Q.IVF_PROBE, iters=Q.IVF_ITERS,
                          fast=True).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 9, f"{len(jobs)} jobs"
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    descs = [store.job(j).description().get() for j in jobs]
    assert descs.count("ivf_fit Lloyd partials") == Q.IVF_ITERS, descs
    assert set(descs) == {"ivf_fit seed centroids",
                          "ivf_fit Lloyd partials", "ivf_topk fast=True"}


def test_ivf_empty_cluster_is_dropped(spark):
    """Keys 0 and 1 seed identical centroids, so the (cos DESC, cid)
    tie-break hands every member to cid 0 and cid 1 wins none: ivf_fit
    drops it (as a groupBy drops an empty group) instead of leaking a
    0/0 NaN centroid, both modes assign alike, and the probe still
    fills k rows per query."""
    rng = np.random.default_rng(11)
    mat = rng.integers(-1000, 1000, size=(40, 8)) / 1000.0
    mat[1] = mat[0]
    t = spark.createDataFrame(
        [(i, [float(v) for v in mat[i]]) for i in range(40)],
        "t_id long, tvec array<float>").repartition(3)
    q = (t.where(F.col("t_id") % 5 == 0)
         .select(F.col("t_id").alias("q_id"), F.col("tvec").alias("qvec")))
    fits = {m: S.ivf_fit(t, 4, iters=2, fast=m) for m in (True, False)}
    for c in fits.values():
        rows = c.collect()
        assert sorted(r.cid for r in rows) == [0, 2, 3]
        assert all(np.isfinite(r.cvec).all() for r in rows)
    assign = {m: {r.t_id: r.cid for r in S._assign(
        t, *_centroid_pair(c), "t_id", "tvec").collect()}
        for m, c in fits.items()}
    assert assign[True] == assign[False]
    for fast in (True, False):
        per_q = {}
        for r in S.ivf_topk(q, t, 3, k_clusters=4, probe=2,
                            fast=fast).collect():
            per_q.setdefault(r.q_id, []).append(r.rank)
        assert sorted(per_q) == list(range(0, 40, 5))
        assert all(sorted(v) == [1, 2, 3] for v in per_q.values())


def _tie_vectors(spark):
    """40 8-d vectors: keys 10-15 copy key 9 (a query at 9 or 12 ties
    six ways at the k=5 boundary), key 39 is the zero vector (NaN
    cosine against everything), spread over 3 partitions."""
    rng = np.random.default_rng(7)
    mat = rng.integers(-1000, 1000, size=(40, 8)) / 1000.0
    mat[10:16] = mat[9]
    mat[39] = 0.0
    t = spark.createDataFrame(
        [(i, [float(v) for v in mat[i]]) for i in range(40)],
        "t_id long, tvec array<float>").repartition(3)
    q = (t.where(F.col("t_id").isin(0, 9, 12, 21, 33, 39))
         .select(F.col("t_id").alias("q_id"), F.col("tvec").alias("qvec")))
    return q, t


@pytest.mark.parametrize("fast", [True, False], ids=["fast", "portable"])
def test_ivf_full_probe_equals_cosine_topk(spark, fast):
    """probe == k_clusters makes every vector an IVF candidate, so
    ivf_topk must return exactly cosine_topk's rows: same pairs, same
    cosine bits, same ranks — including the zero-norm vector (NaN
    cosines, ranked first; the old interpreted SQL rerank raised
    DIVIDE_BY_ZERO under ANSI) and ties at the k-th place broken by
    t_id."""
    q, t = _tie_vectors(spark)

    def rows(df):
        return sorted((r.q_id, r.t_id, r.cosine.hex(), r.rank)
                      for r in df.collect())

    want = rows(S.cosine_topk(q, t, 5))
    assert (39, 0, "nan", 1) in want and (9, 39, "nan", 1) in want
    got = rows(S.ivf_topk(q, t, 5, k_clusters=4, probe=4, fast=fast))
    assert got == want


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.mark.parametrize("fast", [True, False], ids=["fast", "portable"])
def test_ivf_rerank_is_one_arrow_pass_over_pair_join(spark, fast):
    """ivf_topk reranks through ann_topk's keys-first tail: no
    interpreted zip_with fold anywhere in its optimized plan, and the
    cosine comes from ONE MapInArrow whose input is the pair join that
    re-attaches the vectors."""
    q, t = _tie_vectors(spark)
    plan = S.ivf_topk(q, t, 5, k_clusters=4, probe=2, fast=fast) \
        ._jdf.queryExecution().optimizedPlan()
    assert "zip_with" not in plan.toString()
    scorers = [n for n in _plan_nodes(plan)
               if n.nodeName() == "MapInArrow"
               and "cosine" in n.output().toString()]
    assert len(scorers) == 1
    child = scorers[0].child()
    while child.nodeName() == "Project":
        child = child.child()
    assert child.nodeName() == "Join"


def test_fold_dot_is_the_ascending_left_fold():
    """_fold_dot over every broadcast shape its callers use (pair rows,
    query x target cross, vector x centroid) equals a Python left fold
    of double products from 0.0 bit for bit, zero rows included."""
    rng = np.random.default_rng(3)
    a = rng.standard_normal((5, 7)).astype(np.float32).astype(np.float64)
    b = rng.standard_normal((4, 7)).astype(np.float32).astype(np.float64)
    a[2] = 0.0

    def fold(x, y):
        acc = 0.0
        for xj, yj in zip(x.tolist(), y.tolist()):
            acc = acc + xj * yj
        return acc

    pair = S._fold_dot(a[:4], b)
    assert [v.hex() for v in pair.tolist()] == \
        [fold(x, y).hex() for x, y in zip(a[:4], b)]
    cross = S._fold_dot(a[:, None], b[None])
    assert cross.shape == (5, 4)
    assert [[v.hex() for v in row] for row in cross.tolist()] == \
        [[fold(x, y).hex() for y in b] for x in a]
    buf = np.full((5, 4), np.nan)
    assert S._fold_dot(a[:, None], b[None], out=buf) is buf
    assert (buf == cross).all()


_BAD_VECS = {"null": None, "short": [1.0]}


def _vecs_df(spark, key, vec, bad=None):
    rows = [(i, [float(i + 1), 1.0, 0.5]) for i in range(6)]
    if bad:
        rows[3] = (3, _BAD_VECS[bad])
    return spark.createDataFrame(rows, f"{key} long, {vec} array<float>")


def _assert_vector_error(exc, col):
    # a ValueError naming the column (re-raised on the driver as a
    # PythonException when an executor hits it), not a reshape error
    msg = str(exc)
    assert isinstance(exc, ValueError) or "ValueError" in msg, msg
    assert f"vector column '{col}'" in msg, msg
    assert "reshape" not in msg, msg


@pytest.mark.parametrize("bad", sorted(_BAD_VECS))
def test_assign_rejects_null_or_ragged_vectors(spark, bad):
    t = _vecs_df(spark, "t_id", "tvec", bad)
    cids = np.array([0, 1], dtype=np.int64)
    cmat = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
    with pytest.raises(PythonException) as ei:
        S._assign(t, cids, cmat, "t_id", "tvec").collect()
    _assert_vector_error(ei.value, "tvec")
    # the fast Lloyd pass reads through the same checked matrix reader
    with pytest.raises(PythonException) as ei:
        S.ivf_fit(t, 2, fast=True)
    _assert_vector_error(ei.value, "tvec")


@pytest.mark.parametrize("bad", sorted(_BAD_VECS))
def test_pair_cosine_rejects_null_or_ragged_vectors(bad):
    good = [1.0, 2.0, 3.0]
    batch = pa.record_batch(
        [pa.array([1, 2], pa.int64()), pa.array([5, 6], pa.int64()),
         pa.array([good, good], pa.list_(pa.float32())),
         pa.array([good, _BAD_VECS[bad]], pa.list_(pa.float32()))],
        names=["q_id", "t_id", "qvec", "tvec"])
    f = S._pair_cosine_fn("q_id", "t_id", "qvec", "tvec", local_k=1)
    with pytest.raises(ValueError) as ei:
        list(f(iter([batch])))
    _assert_vector_error(ei.value, "tvec")


@pytest.mark.parametrize("bad", sorted(_BAD_VECS))
def test_signature_rejects_null_or_ragged_vectors(spark, bad):
    sig = S.signature_udf(3, bits=4, bands=2)
    with pytest.raises(PythonException) as ei:
        _vecs_df(spark, "t_id", "tvec", bad).select(sig("tvec")).collect()
    _assert_vector_error(ei.value, "tvec")


def test_cosine_topk_query_side_is_bounded(spark, monkeypatch):
    """cosine_topk collects at most strategy.BROADCAST_ROWS query rows
    to the driver; a larger query side fails loudly instead of
    collecting it."""
    from geozero_spark.plans import strategy

    monkeypatch.setattr(strategy, "BROADCAST_ROWS", 5)
    q, t = _vecs_df(spark, "q_id", "qvec"), _vecs_df(spark, "t_id", "tvec")
    with pytest.raises(RuntimeError, match="declared bound of 5"):
        S.cosine_topk(q, t, k=2)
    assert S.cosine_topk(q.limit(5), t, k=2).count() == 10


@pytest.mark.parametrize("bad", sorted(_BAD_VECS))
def test_cosine_topk_rejects_null_or_ragged_vectors(spark, bad):
    # targets are checked in the Arrow scorer on the executors
    with pytest.raises(PythonException) as ei:
        S.cosine_topk(_vecs_df(spark, "q_id", "qvec"),
                      _vecs_df(spark, "t_id", "tvec", bad), k=2).collect()
    _assert_vector_error(ei.value, "tvec")
    # queries are checked on the driver before the broadcast
    with pytest.raises(ValueError) as ei:
        S.cosine_topk(_vecs_df(spark, "q_id", "qvec", bad),
                      _vecs_df(spark, "t_id", "tvec"), k=2)
    _assert_vector_error(ei.value, "qvec")
