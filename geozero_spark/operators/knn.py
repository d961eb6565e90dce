"""Grid kNN via cell-ring (disk) expansion.

The reference's spatial-index exemplar is a KD-bush radius query
(geozero/tests/kdbush.rs:8-35, ``within(x, y, r)``); the distributed
re-expression is: index both sides on Morton cells, join queries'
k-ring disk against target cells, take the top-k by distance with a
window, and EXPAND the disk for queries whose k-th hit is not yet
provably correct.

Correctness bound: at resolution ``res`` the cell height is 180/2^res
degrees (<= cell width), so every point outside the Chebyshev ``r``-disk
of the query's cell is at least ``r * 180/2^res`` degrees away. A
query is settled once it has k candidates with
``sqrt(kth_dist) <= r * cell_h`` — otherwise it re-joins at radius 2r.
The driver-side loop runs O(log) distributed jobs, each only over the
still-unsettled queries (usually none after the first round).

Distances are computed in INTEGER centi-degree space (dx*dx + dy*dy as
exact int64) with a (dist, target_key) tie-break, so verdicts are
bit-identical to any other engine evaluating the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import cols
from ..functions import sqlgen as sg


def _disk_cells(df: DataFrame, xc: str, yc: str, res: int, radius: int,
                out: str = "cell") -> DataFrame:
    """Explode each query row into its (2r+1)^2 Chebyshev disk of cells.
    Longitude wraps, latitude clamps (kernel/cells.neighbors parity).

    The dx span is clamped to at most n consecutive offsets so
    ``pmod(ix+dx, n)`` stays BIJECTIVE: with 2*radius+1 > n an unclamped
    span would map several dx to the same cell, duplicating (query, cell)
    rows and hence (query, target) candidates — row_number would then rank
    the same neighbor twice and drop a true one (round-1 advisory)."""
    n = 1 << res
    d = sg.SPARK
    lon = f"(({xc}) / 100.0e0)"
    lat = f"(({yc}) / 100.0e0)"
    ix, iy = sg.grid_ixy(lon, lat, res)
    x_span = min(2 * radius + 1, n)
    x_lo = -(x_span // 2)
    x_hi = x_lo + x_span - 1
    jx = f"pmod(ix + dx, {n})"
    jy = "(iy + dy)"
    out_df = (df
              .withColumn("ix", F.expr(ix)).withColumn("iy", F.expr(iy))
              .withColumn("dx", F.expr(
                  f"explode(sequence({x_lo}, {x_hi}))"))
              .withColumn("dy", F.expr(
                  f"explode(sequence({-radius}, {radius}))"))
              .where(F.expr(f"{jy} >= 0 AND {jy} < {n}")))
    # staged Morton assembly over the wrapped grid coords (the textual
    # make_cell form costs seconds of cold parse+codegen per plan)
    out_df = cols.with_cell_from_ixiy(out_df, F.expr(jx), F.expr(jy),
                                      res, out=out)
    return out_df.drop("ix", "iy", "dx", "dy")


def auto_res(n_targets: int, per_cell: int = 2000,
             min_cells: int = 1) -> int:
    """Resolution balancing per-cell matrix work against per-group
    cogroup overhead. Cell count = max(n_targets / per_cell,
    min_cells): at least ``min_cells`` groups (knn_join wires 32x
    defaultParallelism through — granularity scales with the cluster,
    not a local constant), at most ~``per_cell`` targets per cell so
    the 9-cell disk join's pair work stays bounded once data outgrows
    the parallelism floor. per_cell=2000 re-measured for the packed
    uint32 kernel (r6 res sweep: res 5 fastest at BOTH 200k and 2M
    targets on 32 cores — 7.5s vs 13.2s at the old res 7 for 2M; the
    cogrouped UDF's per-group cost dominates long before the disk's
    extra pairs do)."""
    import math
    cells = max(n_targets / per_cell, float(min_cells), 1.0)
    return max(2, min(12, round(math.log2(cells) / 2)))


def _select_topk(d2, kk: int, big):
    """Exact per-row top-k selection by (key, column order) — the one
    int64/float64 selector (kNN distances here; the cosine sort keys of
    similarity.cosine_topk and IVF's _assign). ``big`` is the exclusion
    filler (int64 max / +inf): filler entries may fill a row's tail in
    arbitrary column order, so callers drop them by key.

    Columns MUST be pre-sorted by target key ascending. Fast path:
    argpartition + stable sort of the kk-subset. argpartition picks an
    ARBITRARY subset when more than kk candidates tie exactly at the
    kk-th distance, so rows with a real boundary tie (kth < big and
    more than kk candidates <= kth) are re-done with a full stable
    argsort. That fallback is fine for sporadic ties but collapses on
    grid-quantized/cloned corpora where EVERY row ties at the boundary
    (measured 110 s/task vs 17 s tie-free at the same shape) — the
    narrow-coordinate kernel in _local_topk_arrays therefore uses the
    packed uint64 (dist2, column) selection instead and never calls
    this; this path remains for out-of-envelope int64 coordinates.
    Returns (sel, d2o): column indices and keys, each (rows, kk)."""
    import numpy as np

    part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
    part = np.sort(part, axis=1)  # ascending target key
    d2s = np.take_along_axis(d2, part, axis=1)
    order = np.argsort(d2s, axis=1, kind="stable")
    sel = np.take_along_axis(part, order, axis=1)
    d2o = np.take_along_axis(d2s, order, axis=1)
    kth = d2o[:, -1]
    bad = (kth < big) & ((d2 <= kth[:, None]).sum(axis=1) > kk)
    for r in np.nonzero(bad)[0]:
        full = np.argsort(d2[r], kind="stable")[:kk]
        sel[r] = full
        d2o[r] = d2[r][full]
    return sel, d2o


def _local_topk_arrays(qid, qxv, qyv, tid, txv, tyv, k: int,
                       exclude_self: bool, budget: int = 1 << 20):
    """Shared exact local-top-k kernel (broadcast partitions AND cell
    cogroups): per query, the k nearest of THESE targets by
    (dist2, target_key). Targets need not arrive sorted. Returns
    (q, t, d) int64 arrays.

    Narrow types when coordinates allow (guide §2.3): within the
    centi-degree envelope (|v| <= 23000) dx*dx fits int32 and dx2+dy2
    fits uint32 — HALF the memory traffic of the int64 kernel, which
    is what bounds this loop — and _select_topk can pack (dist2, col)
    into one uint64 argpartition key (exact tie-break with no per-row
    fallback; cloned corpora tie on EVERY row). ``budget`` bounds the
    scratch matrices (elements); buffers are allocated once and reused
    across chunks (fresh >128KB allocs fault ~25x the arithmetic)."""
    import numpy as np

    nq, nt = len(qid), len(tid)
    ts = np.argsort(tid, kind="stable")
    tid, txv, tyv = tid[ts], txv[ts], tyv[ts]
    small = (max(abs(int(txv.max())), abs(int(txv.min())),
                 abs(int(tyv.max())), abs(int(tyv.min())),
                 abs(int(qxv.max())), abs(int(qxv.min())),
                 abs(int(qyv.max())), abs(int(qyv.min()))) <= 23000)
    if small:
        cdt, sdt, big = np.int32, np.uint32, (1 << 32) - 1
    else:
        cdt, sdt, big = np.int64, np.int64, np.iinfo(np.int64).max
    txc, tyc = txv.astype(cdt), tyv.astype(cdt)
    qxc, qyc = qxv.astype(cdt), qyv.astype(cdt)
    out_q, out_t, out_d = [], [], []
    chunk = min(nq, max(1, budget // max(nt, 1)))
    dxb = np.empty((chunk, nt), cdt)
    dyb = np.empty((chunk, nt), cdt)
    d2b = np.empty((chunk, nt), sdt)
    if small:
        # packed (dist2, column) uint64 selection key: one
        # argpartition is then exact INCLUDING the (dist2, target_key)
        # tie-break — no stable-sort subset, no per-row fallback on
        # boundary ties (which cloned/grid-quantized corpora hit on
        # every row). col < 2^31 and dist2 (incl. filler) < 2^32 keep
        # the pack overflow-free.
        keyb = np.empty((chunk, nt), np.uint64)
        colb = np.arange(nt, dtype=np.uint64)
    kk = min(k, nt)
    for s in range(0, nq, chunk):
        e = min(s + chunk, nq)
        m = e - s
        dx = np.subtract(txc[None, :], qxc[s:e, None], out=dxb[:m])
        dy = np.subtract(tyc[None, :], qyc[s:e, None], out=dyb[:m])
        np.multiply(dx, dx, out=dx)
        np.multiply(dy, dy, out=dy)
        # int32 squares are non-negative: the uint32 view is value-
        # preserving and the sum cannot wrap (23000^2 * 2 < 2^32); on
        # the int64 path the view is the identity
        d2 = np.add(dx.view(sdt), dy.view(sdt), out=d2b[:m])
        if exclude_self:
            # targets are key-sorted: locate each query's own key by
            # binary search instead of an O(nq*nt) equality+mask pass
            lo = np.searchsorted(tid, qid[s:e], side="left")
            hi = np.searchsorted(tid, qid[s:e], side="right")
            for r in np.nonzero(hi > lo)[0]:
                d2[r, lo[r]:hi[r]] = big
        if small:
            key = keyb[:m]
            np.copyto(key, d2, casting="safe")
            np.left_shift(key, np.uint64(31), out=key)
            np.add(key, colb[None, :], out=key)
            if kk < nt:
                part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
            else:
                part = np.broadcast_to(np.arange(nt), key.shape).copy()
            keys = np.take_along_axis(key, part, axis=1)
            order = np.argsort(keys, axis=1)  # keys unique: exact
            sel = np.take_along_axis(part, order, axis=1)
            d2o = (np.take_along_axis(keys, order, axis=1)
                   >> np.uint64(31))
        else:
            sel, d2o = _select_topk(d2, kk, big)
        keep = (d2o != big).ravel()
        out_q.append(np.repeat(qid[s:e], kk)[keep])
        out_t.append(tid[sel.ravel()[keep]])
        out_d.append(d2o.ravel()[keep].astype(np.int64))
    return (np.concatenate(out_q), np.concatenate(out_t),
            np.concatenate(out_d))


def _ints(tbl, c):
    """int64 numpy view of an Arrow table column; zero-copy refuses
    nulls, so a null key/coordinate fails loudly."""
    import numpy as np

    return (tbl.column(c).combine_chunks()
            .to_numpy(zero_copy_only=True).astype(np.int64, copy=False))


def _cell_local_topk(disks: DataFrame, tgt: DataFrame, k: int,
                     query_key: str, target_key: str,
                     qx: str, qy: str, tx: str, ty: str,
                     exclude_self: bool) -> DataFrame:
    """Per-cell numpy top-k via cogroup; emits <= k candidates per
    (query, cell) with exact integer dist2 and (dist2, key) ordering."""
    import numpy as np
    import pyarrow as pa

    out_schema = (f"{query_key} long, {target_key} long, dist2 long")

    def local(qt, tt):
        if not qt.num_rows or not tt.num_rows:
            q = t = d = np.zeros(0, dtype=np.int64)
        else:
            q, t, d = _local_topk_arrays(
                _ints(qt, query_key), _ints(qt, qx), _ints(qt, qy),
                _ints(tt, target_key), _ints(tt, tx), _ints(tt, ty),
                k, exclude_self, budget=8 << 20)
        return pa.table({query_key: q, target_key: t, "dist2": d})

    return (disks.groupBy("cell")
            .cogroup(tgt.groupBy("cell"))
            .applyInArrow(local, out_schema))


def knn_join_broadcast(queries: DataFrame, targets: DataFrame, k: int,
                       query_key: str = "q_id", target_key: str = "t_id",
                       qx: str = "qx", qy: str = "qy",
                       tx: str = "tx", ty: str = "ty",
                       exclude_self: bool = True) -> DataFrame:
    """Exact kNN for SMALL query sets: broadcast the queries, compute a
    partition-local top-k over the targets with numpy (NO target
    shuffle, one Arrow batch per scan partition), then merge the
    per-partition partials with one tiny window.

    This is the broadcast twin of the grid path: at 10^12 targets the
    scan stays a scan — each executor reduces its slice to k rows per
    query — and the only shuffle is |partitions| * |Q| * k partial
    rows. Same (dist2, target_key) tie-breaking as knn_join, so both
    paths return bit-identical results."""
    import numpy as np
    import pyarrow as pa

    qrows = queries.select(query_key, qx, qy).collect()
    if not qrows:
        return queries.sparkSession.createDataFrame(
            [], f"{query_key} long, {target_key} long, dist2 long, "
                f"rank int")
    qid = np.array([r[0] for r in qrows], dtype=np.int64)
    qxv = np.array([r[1] for r in qrows], dtype=np.int64)
    qyv = np.array([r[2] for r in qrows], dtype=np.int64)
    bc = queries.sparkSession.sparkContext.broadcast((qid, qxv, qyv))

    out_schema = f"{query_key} long, {target_key} long, dist2 long"

    def local_topk(it):
        qid, qxv, qyv = bc.value
        # drain the whole partition first: Arrow feeds many small
        # batches, and running the per-query selection per batch
        # multiplies the Python row loop by the batch count (measured
        # ~6x slower) and inflates the partial row count
        bs = [b for b in it if b.num_rows]
        if bs:
            tt = pa.Table.from_batches(bs)
            q, t, d = _local_topk_arrays(
                qid, qxv, qyv, _ints(tt, target_key), _ints(tt, tx),
                _ints(tt, ty), k, exclude_self)
            yield pa.RecordBatch.from_pydict({
                query_key: q, target_key: t, "dist2": d})

    partials = targets.select(target_key, tx, ty).mapInArrow(
        local_topk, out_schema)
    w = Window.partitionBy(query_key).orderBy("dist2", target_key)
    return (partials.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


BROADCAST_QUERY_LIMIT = 100_000
# |Q| * |T| distance evaluations above which the grid index beats the
# broadcast scan: the broadcast path's work is exactly the pair count
# (measured ~1e-9..3e-9 s/pair/core on the uint32 kernel), while the
# grid path's is |T| (one cell shuffle) + |Q| * disk-local candidates.
# Measured crossover on this box sits between 4e8 (broadcast 2x faster)
# and 4e10 (grid 9x faster) pairs; 4e9 splits the window. Like the
# pip_join prefilter this is a WORK-shaped bound, not a tuned-to-local
# constant: both sides of the comparison scale with cores.
BROADCAST_WORK_LIMIT = 4_000_000_000


def knn_join(queries: DataFrame, targets: DataFrame, k: int,
             res: int | None = 4, query_key: str = "q_id",
             target_key: str = "t_id",
             qx: str = "qx", qy: str = "qy",
             tx: str = "tx", ty: str = "ty",
             exclude_self: bool = True,
             max_radius: int | None = None,
             method: str = "grid") -> DataFrame:
    """Exact k nearest targets per query (integer centi-degree metric).

    queries: (query_key, qx, qy); targets: (target_key, tx, ty) — x/y in
    centi-degrees (exact ints). Returns (query_key, target_key, dist2,
    rank), rank 1..k ordered by (dist2, target_key).

    NOTE: the planar metric does not wrap the dateline; candidate
    generation wraps cells, the final metric is planar centi-degrees.

    method: "grid" (cell-cogrouped disk expansion — the index path for
    large query sets), "broadcast" (broadcast-queries partition-local
    top-k — fastest when |Q| is small), or "auto" (broadcast when BOTH
    the query side is under BROADCAST_QUERY_LIMIT rows and the total
    |Q| * |T| distance work is under BROADCAST_WORK_LIMIT — a small
    query set over a huge target table is exactly where the scan's
    quadratic work loses to the grid index). Both are exact and
    bit-identical.
    """
    n_t_known = None
    if method == "auto":
        n_q = queries.select(query_key).limit(
            BROADCAST_QUERY_LIMIT + 1).count()
        if n_q > BROADCAST_QUERY_LIMIT:
            method = "grid"
        else:
            n_t_known = targets.count()
            method = ("broadcast"
                      if n_q * n_t_known <= BROADCAST_WORK_LIMIT
                      else "grid")
    if method == "broadcast":
        return knn_join_broadcast(
            queries, targets, k, query_key=query_key,
            target_key=target_key, qx=qx, qy=qy, tx=tx, ty=ty,
            exclude_self=exclude_self)
    if method != "grid":
        raise ValueError(f"unknown kNN method {method!r}")
    if res is None:
        par = targets.sparkSession.sparkContext.defaultParallelism
        res = auto_res(n_t_known if n_t_known is not None
                       else targets.count(), min_cells=par * 32)
    n = 1 << res
    cell_h = 18000.0 / n  # centi-degrees per cell (latitude pitch)
    if max_radius is None:
        max_radius = n  # full sweep fallback
    tgt = cols.with_cell_col(
        targets, F.col(tx) / F.lit(100.0), F.col(ty) / F.lit(100.0),
        res, out="cell")
    tgt = tgt.persist()
    # materialize the query side once: upstream pipelines (Arrow-UDF
    # decode etc.) must not re-run every expansion round
    remaining = queries.persist()
    n_remaining = remaining.count()
    settled_parts = []
    radius = 1
    to_unpersist = [remaining, tgt]
    keep_cached = []
    while True:
        # cell-cogrouped local top-k: instead of materializing the full
        # (query x cell-targets) pair set through a shuffle+sort (hot
        # cells make that millions of rows), cogroup the exploded query
        # disks with the targets BY CELL and compute each cell's
        # per-query top-k in numpy. Shuffle volume = |queries|*disk +
        # |targets|, never the pair count.
        disks = _disk_cells(remaining, qx, qy, res, radius)
        cand = _cell_local_topk(disks, tgt, k, query_key, target_key,
                                qx, qy, tx, ty, exclude_self)
        # the settle check rides the SAME window partitioning as the
        # rank (one shuffle, no separate agg+semijoin jobs): a query is
        # settled when it has k hits and its k-th distance beats the
        # disk guarantee (strict <: a point just outside the disk can
        # sit at exactly the guarantee distance and deserves a
        # tie-break comparison)
        w = Window.partitionBy(query_key).orderBy("dist2", target_key)
        wq = Window.partitionBy(query_key)
        guarantee = (radius * cell_h) ** 2
        topk = (cand
                .withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k))
        if radius >= max_radius:
            topk = topk.withColumn("_settled", F.lit(True))
        else:
            topk = topk.withColumn(
                "_settled",
                (F.count("*").over(wq) >= k) &
                (F.max("dist2").over(wq) < F.lit(guarantee)))
        topk = topk.persist()
        keep_cached.append(topk)
        # ONE job per round: materialize + count settled queries
        n_settled = (topk.where("_settled").select(query_key)
                     .distinct().count())
        settled_parts.append(
            topk.where("_settled")
            .select(query_key, target_key, "dist2", "rank"))
        n_remaining -= n_settled
        if radius >= max_radius or n_remaining <= 0:
            break
        settled_keys = topk.where("_settled").select(query_key).distinct()
        remaining = remaining.join(F.broadcast(settled_keys),
                                   on=query_key, how="left_anti").persist()
        to_unpersist.append(remaining)
        radius *= 2
    out = settled_parts[0]
    for p in settled_parts[1:]:
        out = out.unionByName(p)
    # materialize the result before releasing intermediate caches, as
    # a local checkpoint: returning a filter over a still-cached round
    # frame, or a persisted union, leaked one cached DataFrame per call
    # (the caller has no handle to release it, and a second identical
    # call was served from it)
    out = out.localCheckpoint()
    for df in to_unpersist + keep_cached:
        df.unpersist()
    return out
