"""kNN correctness vs brute force, incl. the round-1 advisory repro:
at small res the cell disk wraps longitude (2*radius+1 > 2^res) and an
unclamped pmod produced duplicate candidates that row_number ranked
separately — the nearest target appeared at ranks 1 AND 2 while the
true second-nearest was dropped. _disk_cells now clamps the dx span."""

import numpy as np
import pytest

from geozero_spark.operators.knn import knn_join


def brute_topk(qrows, trows, k, exclude_self=True):
    """Ground-truth (query_key, target_key, dist2, rank) rows."""
    out = []
    for qid, qx, qy in qrows:
        cands = []
        for tid, tx, ty in trows:
            if exclude_self and tid == qid:
                continue
            d2 = (tx - qx) ** 2 + (ty - qy) ** 2
            cands.append((d2, tid))
        cands.sort()
        for rank, (d2, tid) in enumerate(cands[:k], start=1):
            out.append((qid, tid, d2, rank))
    return sorted(out)


def run_knn(spark, qrows, trows, k, res, exclude_self=True,
            method="grid", max_radius=None):
    q = spark.createDataFrame(qrows, "q_id long, qx long, qy long")
    t = spark.createDataFrame(trows, "t_id long, tx long, ty long")
    got = knn_join(q, t, k=k, res=res, exclude_self=exclude_self,
                   method=method, max_radius=max_radius)
    rows = sorted((r.q_id, r.t_id, r.dist2, r.rank) for r in got.collect())
    got.unpersist()
    return rows


def test_wrap_no_duplicate_neighbors(spark):
    # res=2 -> n=4 cells per axis; query far from both targets so the
    # disk must expand past radius 2 where 2r+1 > n wraps longitude.
    qrows = [(1, -17000, 0)]
    trows = [(10, 17000, 100), (11, 17000, 8000), (12, 17500, -8000)]
    got = run_knn(spark, qrows, trows, k=2, res=2)
    want = brute_topk(qrows, trows, k=2)
    assert got == want
    # explicitly: no target may appear twice for one query
    seen = {(q, t) for q, t, _, _ in got}
    assert len(seen) == len(got)


def _stress_rows(rng):
    """Targets and queries that stress the count-bounded radius: dense
    clusters beside sparse space, points ON the +/-90 and +/-180 edges,
    exact cell-edge coordinates (multiples of 1125 centi-degrees are
    cell edges at every res <= 4 and longitude edges up to res 5),
    grid-quantized exact distance ties, and 5-way clones (one position,
    five keys). Queries are a slice of the targets (self-exclusion
    applies) plus foreign points, corners included."""
    pts = [(int(x), int(y)) for x, y in zip(
        rng.normal(4000, 150, 40).round(), rng.normal(-2000, 150, 40)
        .round())]
    pts += [(int(x), int(y)) for x, y in zip(
        rng.integers(-18000, 18001, 25), rng.integers(-9000, 9001, 25))]
    pts += [(-18000, -9000), (18000, 9000), (18000, -9000), (-18000, 0),
            (0, 9000), (17999, 8999), (-17999, -9000)]
    pts += [(1125 * int(a), 1125 * int(b)) for a, b in zip(
        rng.integers(-16, 17, 12), rng.integers(-8, 9, 12))]
    pts += [(100 * int(a), 100 * int(b)) for a, b in zip(
        rng.integers(-3, 4, 15), rng.integers(-3, 4, 15))]
    pts += [(-7000, 3000)] * 5
    trows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    qrows = trows[::4] + [(1000 + i, x, y) for i, (x, y) in enumerate(
        [(-18000, 9000), (18000, 0), (4000, -2000), (0, 0),
         (-7000, 3000), (1125, -1125), (9000, -8999)])]
    return qrows, trows


def test_knn_matches_brute_force_random(spark):
    rng = np.random.default_rng(7)
    # uniform queries and targets: search radii differ per query
    tx = rng.integers(-18000, 18000, size=60)
    ty = rng.integers(-9000, 9000, size=60)
    trows = [(int(i), int(x), int(y)) for i, (x, y) in
             enumerate(zip(tx, ty))]
    qx = rng.integers(-18000, 18000, size=25)
    qy = rng.integers(-9000, 9000, size=25)
    qrows = [(int(100 + i), int(x), int(y)) for i, (x, y) in
             enumerate(zip(qx, qy))]
    want = brute_topk(qrows, trows, k=3)
    for res in (2, 3, 5):
        got = run_knn(spark, qrows, trows, k=3, res=res)
        assert got == want, f"res={res}"
    # broadcast path: bit-identical to the grid path and brute force
    got_bc = run_knn(spark, qrows, trows, k=3, res=None,
                     method="broadcast")
    assert got_bc == want
    # stress inputs at every res auto_res or a caller picks, k 1/3/6,
    # self-exclusion both ways
    qrows, trows = _stress_rows(np.random.default_rng(31))
    for res, k, excl in ((None, 3, True), (2, 6, False), (3, 1, True),
                         (5, 6, True), (7, 1, False)):
        got = run_knn(spark, qrows, trows, k=k, res=res, exclude_self=excl)
        assert got == brute_topk(qrows, trows, k, excl), (res, k, excl)
    # k > |T|: every query gets all the targets there are
    few = trows[:4]
    for excl in (True, False):
        got = run_knn(spark, qrows[:3], few, k=6, res=3, exclude_self=excl)
        assert got == brute_topk(qrows[:3], few, 6, excl), excl


def test_knn_exclude_self_and_ties(spark):
    # targets equidistant from the query: tie broken by target_key asc
    qrows = [(5, 0, 0)]
    trows = [(5, 0, 0), (9, 100, 0), (7, -100, 0), (8, 0, 100)]
    for method in ("grid", "broadcast"):
        got = run_knn(spark, qrows, trows, k=2, res=3, method=method)
        assert got == [(5, 7, 10000, 1), (5, 8, 10000, 2)], method


def test_knn_boundary_tie_explosion(spark):
    """More than k targets tie EXACTLY at the k-th distance (a ring of
    equidistant points): argpartition alone picks an arbitrary subset,
    so the winners must still be the lowest target keys at the tied
    distance, on BOTH paths. These small coordinates run the packed
    uint64 (dist2, column) key; _select_topk's stable-sort widening is
    pinned directly by test_select_topk_matches_stable_argsort."""
    # query at origin; 6 targets all at dist2 = 100^2, keys shuffled
    qrows = [(1, 0, 0)]
    trows = [(37, 100, 0), (12, -100, 0), (99, 0, 100), (5, 0, -100),
             (64, 60, 80), (21, -60, -80), (88, 500, 500)]
    want = brute_topk(qrows, trows, k=3, exclude_self=False)
    q = spark.createDataFrame(qrows, "q_id long, qx long, qy long")
    t = spark.createDataFrame(trows, "t_id long, tx long, ty long")
    for method in ("grid", "broadcast"):
        got = sorted(
            (r["q_id"], r["t_id"], r["dist2"], r["rank"])
            for r in knn_join(q, t, k=3, res=2, exclude_self=False,
                              method=method).collect())
        assert got == sorted(want), method


def _kernel_reference(qrows, trows, k, exclude_self):
    """Python ground truth for _local_topk_arrays: per query, the k
    nearest of these targets by (dist2, target_key); self-exclusion
    drops EVERY target sharing the query's key."""
    out = []
    for qid, qx, qy in qrows:
        cands = sorted(((tx - qx) ** 2 + (ty - qy) ** 2, tid)
                       for tid, tx, ty in trows
                       if not (exclude_self and tid == qid))
        out.extend((qid, tid, d2) for d2, tid in cands[:k])
    return sorted(out)


def _run_kernel(qrows, trows, k, exclude_self=True, budget=1 << 20):
    from geozero_spark.operators.knn import _local_topk_arrays
    qid = np.array([r[0] for r in qrows], np.int64)
    qx = np.array([r[1] for r in qrows], np.int64)
    qy = np.array([r[2] for r in qrows], np.int64)
    tid = np.array([r[0] for r in trows], np.int64)
    tx = np.array([r[1] for r in trows], np.int64)
    ty = np.array([r[2] for r in trows], np.int64)
    q, t, d = _local_topk_arrays(qid, qx, qy, tid, tx, ty, k,
                                 exclude_self, budget=budget)
    return sorted(zip(q.tolist(), t.tolist(), d.tolist()))


def test_kernel_packed_vs_int64_paths_match_reference():
    """The packed uint32 kernel (|coords| <= 23000) and the int64
    fallback must both equal the python reference — including at the
    envelope EDGE (+/-23000, where dx^2 = 46000^2 is within 1.5% of
    int32 max) and just past it (23001 flips the whole group to the
    int64 path). Tiny budget forces multi-chunk reuse of the scratch
    buffers."""
    rng = np.random.default_rng(11)
    nt, nq, k = 80, 37, 4
    tx = rng.integers(-23000, 23001, size=nt)
    ty = rng.integers(-23000, 23001, size=nt)
    trows = [(int(i), int(x), int(y)) for i, (x, y) in
             enumerate(zip(tx, ty))]
    # force the exact envelope corners in (targets and a query)
    trows[0] = (0, -23000, 23000)
    trows[1] = (1, 23000, -23000)
    qrows = [(int(200 + i), int(x), int(y)) for i, (x, y) in
             enumerate(zip(rng.integers(-23000, 23001, size=nq),
                           rng.integers(-23000, 23001, size=nq)))]
    qrows[0] = (200, 23000, 23000)
    for budget in (1 << 20, 16):  # 16: chunk=1, many refills
        got = _run_kernel(qrows, trows, k, exclude_self=False,
                          budget=budget)
        assert got == _kernel_reference(qrows, trows, k, False), budget
    # one out-of-envelope coordinate -> whole group takes the int64
    # path; same answers for the same geometry shifted out of range
    shift = 30000
    trows_s = [(i, x + shift, y) for i, x, y in trows]
    qrows_s = [(i, x + shift, y) for i, x, y in qrows]
    got_s = _run_kernel(qrows_s, trows_s, k, exclude_self=False)
    assert got_s == _kernel_reference(qrows_s, trows_s, k, False)
    # the shifted run preserves the unshifted distances (pure
    # translation): cross-check the two paths compute the same top-k
    got = _run_kernel(qrows, trows, k, exclude_self=False)
    assert [(q - 0, t, d) for q, t, d in got] == \
        [(q, t, d) for q, t, d in got_s]


def test_kernel_exclude_self_duplicate_keys_and_small_nt():
    """Self-exclusion must drop EVERY target row sharing the query's
    key (duplicate keys: the searchsorted lo:hi span), k >= nt takes
    the no-argpartition branch, and all-identical coordinates tie on
    every row (the packed key's tie-break by target key)."""
    trows = [(7, 0, 0), (7, 50, 0), (3, 100, 100), (9, -40, 30),
             (12, 0, -60)]
    qrows = [(7, 10, 10), (5, 0, 0)]
    for k in (2, 5, 9):
        got = _run_kernel(qrows, trows, k, exclude_self=True)
        assert got == _kernel_reference(qrows, trows, k, True), k
    # every target at the same point: full tie field, winners must be
    # the lowest target keys
    trows = [(i, 500, 500) for i in (31, 4, 17, 25, 8)]
    qrows = [(100, 0, 0)]
    got = _run_kernel(qrows, trows, 3, exclude_self=False)
    assert got == [(100, 4, 500000), (100, 8, 500000),
                   (100, 17, 500000)]


@pytest.mark.parametrize("dtype,big", [
    (np.int64, np.iinfo(np.int64).max), (np.float64, np.inf)],
    ids=["int64", "float64"])
def test_select_topk_matches_stable_argsort(dtype, big):
    """knn._select_topk — the one int64/float64 selector (int64 kNN
    distances off the packed envelope, the -cos keys of cosine_topk and
    IVF _assign) — equals a full stable argsort: (key ASC, column ASC).
    Rows carry more than kk ties at the kk-th key (argpartition's
    arbitrary subset must be widened) and filler entries at ``big``,
    whose own column order is unspecified, so callers drop them by key
    and only the real entries are compared column for column."""
    from geozero_spark.operators.knn import _select_topk

    rng = np.random.default_rng(5)
    kk = 4
    key = rng.integers(-50, 50, size=(6, 12)).astype(dtype)
    key[0, [2, 5, 7, 9, 11]] = -60  # five ties for four places
    key[1] = 3  # the whole row ties
    key[2, [0, 3, 4]] = -70  # three real entries, then ties at 3
    key[2, [1, 2, 5, 6, 7, 8, 9, 10, 11]] = 3
    key[3, 1:] = big  # one real entry, the rest filler
    key[4] = big  # all filler
    key[5, [4, 6, 8]] = -80  # tie exactly filling the kk places
    key[5, 10] = -80
    sel, keyo = _select_topk(key, kk, big)
    want = np.argsort(key, axis=1, kind="stable")[:, :kk]
    assert keyo.dtype == key.dtype
    assert (keyo == np.take_along_axis(key, want, axis=1)).all()
    real = keyo != big
    assert (sel[real] == want[real]).all()
    assert real.sum(axis=1).tolist() == [4, 4, 4, 1, 0, 4]


def test_knn_join_output_not_left_cached(spark):
    """knn_join returns a lazy plan that caches nothing: the caller gets
    no cached DataFrame it never asked for, the CacheManager holds no
    new entry, and a second identical call runs its own jobs instead of
    being served from the first call's cache."""
    rng = np.random.default_rng(11)
    trows = [(int(i), int(x), int(y)) for i, (x, y) in enumerate(zip(
        rng.integers(-18000, 18000, 300), rng.integers(-9000, 9000, 300)))]
    q = spark.createDataFrame(trows[::10], "q_id long, qx long, qy long")
    t = spark.createDataFrame(trows, "t_id long, tx long, ty long")
    cm = spark._jsparkSession.sharedState().cacheManager()
    sc = spark.sparkContext
    n_cached = cm.cachedData().size()

    first = knn_join(q, t, k=3, res=4)
    assert not first.is_cached
    assert cm.cachedData().size() == n_cached

    sc.setJobGroup("knn_second_call", "second identical knn_join")
    try:
        second = knn_join(q, t, k=3, res=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("knn_second_call")
    plan = second._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan
    assert sorted(first.collect()) == sorted(second.collect())


def _grid_fixture(spark):
    rng = np.random.default_rng(3)
    trows = [(int(i), int(x), int(y)) for i, (x, y) in enumerate(zip(
        rng.integers(-18000, 18000, 400), rng.integers(-9000, 9000, 400)))]
    q = spark.createDataFrame(trows[::8], "q_id long, qx long, qy long")
    t = spark.createDataFrame(trows, "t_id long, tx long, ty long")
    return q, t


# jobs of one grid knn_join(res=None) plus one collect in the test
# session (local[8], 8 shuffle partitions, AQE): the count grid's
# exchange and collect, the disk, target and rank-window exchanges, and
# the result stage. A per-radius driver loop costs several times more.
GRID_JOB_BUDGET = 6


def test_knn_grid_job_budget(spark):
    q, t = _grid_fixture(spark)
    sc = spark.sparkContext
    sc.setJobGroup("knn_grid_budget", "grid knn_join plus one collect")
    try:
        n = len(knn_join(q, t, k=3, res=None, method="grid").collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == 3 * 50
    jobs = sc.statusTracker().getJobIdsForGroup("knn_grid_budget")
    assert len(jobs) <= GRID_JOB_BUDGET, sorted(jobs)


def test_knn_grid_plan_is_one_lazy_join(spark):
    """No persist or checkpoint anywhere in the grid plan, and exactly
    one cell cogroup: the whole search is a single disk join."""
    q, t = _grid_fixture(spark)
    out = knn_join(q, t, k=3, res=4, method="grid")
    plan = out._jdf.queryExecution().withCachedData().toString()
    assert "InMemoryRelation" not in plan
    assert plan.count("FlatMapCoGroupsInArrow") == 1, plan


def test_knn_max_radius_is_an_exact_cap(spark):
    """The only target sits 4 cell rows above the query's cell at res 4
    (Chebyshev radius 4): a cap of 3 searches radius 3 exactly and does
    not reach it; the default cap (a full sweep) does."""
    # res 4: cell pitch 2250 x 1125 centi-degrees; query in cell
    # (8, 8), target in cell (8, 12)
    qrows = [(1, 1125, 562)]
    trows = [(7, 1125, 562 + 4 * 1125)]
    assert run_knn(spark, qrows, trows, k=1, res=4, exclude_self=False,
                   max_radius=3) == []
    assert run_knn(spark, qrows, trows, k=1, res=4, exclude_self=False) \
        == [(1, 7, (4 * 1125) ** 2, 1)]


def test_knn_broadcast_query_side_is_bounded(spark, monkeypatch):
    """The broadcast path collects at most strategy.BROADCAST_ROWS query
    rows to the driver; an explicit method="broadcast" over a larger
    query side fails loudly instead of collecting it."""
    from geozero_spark.plans import strategy

    q, t = _grid_fixture(spark)
    monkeypatch.setattr(strategy, "BROADCAST_ROWS", 20)
    with pytest.raises(RuntimeError, match="declared bound of 20"):
        knn_join(q, t, k=3, method="broadcast")
    assert knn_join(q.limit(20), t, k=3, method="broadcast").count() == 60


def test_knn_auto_collects_queries_once(spark, monkeypatch):
    """method="auto" with a query side within the bound runs exactly the
    jobs of method="broadcast" plus those of the count grid: its one
    query collect picks the path and feeds the broadcast. Over the
    bound it takes the grid path with the grid's exact output. The
    caller's job description is back in place after each call."""
    from test_spark_layer import _group_jobs

    from geozero_spark.operators import knn
    from geozero_spark.plans import strategy

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    q, t = _grid_fixture(spark)

    def call(method):
        out = knn_join(q, t, k=3, res=None, method=method)
        return out, sc.getLocalProperty("spark.job.description")

    (bc, _), bc_jobs = _group_jobs(spark, "knn_cost_broadcast",
                                   lambda: call("broadcast"))
    _, grid_jobs = _group_jobs(spark, "knn_cost_count_grid", lambda:
                               knn._count_grid(t, "tx", "ty", knn.FINE_LEVEL))
    (auto, desc), auto_jobs = _group_jobs(spark, "knn_cost_auto",
                                          lambda: call("auto"))
    assert desc == "knn_cost_auto"
    assert len(auto_jobs) == len(bc_jobs) + len(grid_jobs), auto_jobs
    descs = [store.job(j).description().get() for j in auto_jobs]
    assert descs.count(
        "knn_join broadcast queries (use method='grid')") == 1, descs
    assert sorted(auto.collect()) == sorted(bc.collect())

    monkeypatch.setattr(strategy, "BROADCAST_ROWS", 20)
    (over, desc), _ = _group_jobs(spark, "knn_cost_over", lambda:
                                  call("auto"))
    assert desc == "knn_cost_over"
    plan = over._jdf.queryExecution().withCachedData().toString()
    assert plan.count("FlatMapCoGroupsInArrow") == 1, plan
    grid = knn_join(q, t, k=3, res=None, method="grid")
    assert sorted(over.collect()) == sorted(grid.collect())


def test_knn_null_query_coordinate_is_dropped(spark):
    """A query with a NULL coordinate (points_df emits one for a page
    without a loc) gets no rows on either path; the others are exact."""
    trows = [(i, 300 * i, -200 * i) for i in range(12)]
    qrows = [(100, 50, 40), (101, None, 10), (102, 10, None),
             (103, -900, 700)]
    want = brute_topk([qrows[0], qrows[3]], trows, k=2)
    assert run_knn(spark, qrows, trows, k=2, res=3) == want
    assert run_knn(spark, qrows, trows, k=2, res=None,
                   method="broadcast") == want


def test_count_grid_merges_partitions_before_the_driver(spark):
    """The count-grid collect holds one row per occupied cell, however
    many partitions share that cell: eight copies of the targets in
    eight partitions collect as many rows as one copy, with 8x counts.
    Off-envelope and NULL targets count in the total only."""
    from geozero_spark.operators.knn import _count_grid

    rng = np.random.default_rng(5)
    pts = [(int(x), int(y)) for x, y in zip(
        rng.integers(-18000, 18001, 300), rng.integers(-9000, 9001, 300))]
    rows = [(i, x, y) for i, (x, y) in enumerate(pts)]
    rows += [(900, 18001, 0), (901, None, 5)]
    one = spark.createDataFrame(rows, "t_id long, tx long, ty long")
    total, key, n = _count_grid(one, "tx", "ty", 5)
    assert total == 302 and n.sum() == 300
    cells = {(int(np.clip(np.floor((x / 100 + 180) / 360 * 32), 0, 31)),
              int(np.clip(np.floor((y / 100 + 90) / 180 * 32), 0, 31)))
             for x, y in pts}
    assert sorted(zip(key >> 5, key & 31)) == sorted(cells)
    eight = one.crossJoin(spark.range(8).withColumnRenamed("id", "c")) \
        .repartition(8, "c")
    total8, key8, n8 = _count_grid(eight, "tx", "ty", 5)
    assert total8 == 8 * 302
    assert sorted(key8) == sorted(key)
    assert dict(zip(key8, n8)) == {kk: 8 * v for kk, v in zip(key, n)}
