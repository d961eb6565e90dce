"""Grid kNN as one count-bounded cell-disk join.

The reference's spatial-index exemplar is a KD-bush radius query
(geozero/tests/kdbush.rs:8-35, ``within(x, y, r)``); the distributed
re-expression joins each query's Chebyshev disk of Morton cells against
the target cells and ranks the top-k by distance with a window. Each
disk's radius is chosen up front, so the join is one lazy plan:

1. ``_count_grid`` counts the targets per fine cell at level
   FINE_LEVEL (res=None) or f: one groupBy-count merges the cells
   before the driver, so the collect holds at most 4^FINE_LEVEL + 1
   rows whatever |T| or the partition count. It is the only eager
   action; its sum is |T| for auto_res.
2. ``_search_radius`` (a mapInArrow over the queries) finds, in the
   broadcast summed-area table of those counts at f = min(res + 3,
   FINE_LEVEL), the smallest (2r'+1)^2 fine box around the query
   holding >= k + 1 targets (>= k without exclude_self; clamped at the
   grid edges, no longitude wrap: the metric is planar). All lie within
   U = sqrt(((r'+1) w_f + 1)^2 + ((r'+1) h_f + 1)^2) centi-degrees
   (+1 per axis for float cell edges), so the k-th distance is <= U.
   A point outside the Chebyshev R-disk of the query's cell is
   >= R * cell_h away (cell_h = 180/2^res degrees <= cell width), so
   R = floor(U / cell_h) + 1 holds the exact top-k at any f (above
   res 10, f < res: still exact, the radius is just looser). An
   undercount only loosens U; an overcount breaks exactness, so
   targets outside the lon/lat envelope are not counted, and a query
   outside it (or whose box never fills) searches max_radius.
3. One ``_disk_cells`` explosion at the per-row radius, one cell
   cogroup (``_cell_local_topk``) and one rank window.

Distances are computed in INTEGER centi-degree space (dx*dx + dy*dy as
exact int64) with a (dist, target_key) tie-break, so verdicts are
bit-identical to any other engine evaluating the same arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..functions import cols
from ..plans import strategy


def _disk_cells(df: DataFrame, ix: str, iy: str, res: int, radius: str,
                out: str = "cell") -> DataFrame:
    """Explode each query row into the (2r+1)^2 Chebyshev disk of cells
    around its grid cell (``ix``, ``iy``), r = the row's ``radius``
    column. Longitude wraps, latitude clamps.

    The dx span is clamped to at most n consecutive offsets so
    ``pmod(ix+dx, n)`` stays BIJECTIVE: with 2*radius+1 > n an unclamped
    span would map several dx to the same cell, duplicating (query, cell)
    rows and hence (query, target) candidates — row_number would then rank
    the same neighbor twice and drop a true one (round-1 advisory)."""
    n = 1 << res
    span = f"least(2 * {radius} + 1, {n})"
    out_df = (df
              .withColumn("dx", F.expr(
                  f"explode(sequence(-({span} div 2), "
                  f"{span} - 1 - ({span} div 2)))"))
              .withColumn("dy", F.expr(
                  f"explode(sequence(greatest(-{radius}, -{iy}), "
                  f"least({radius}, {n - 1} - {iy})))")))
    # staged Morton assembly over the wrapped grid coords (the textual
    # make_cell form costs seconds of cold parse+codegen per plan)
    out_df = cols.with_cell_from_ixiy(
        out_df, F.expr(f"pmod({ix} + dx, {n})"), F.expr(f"{iy} + dy"),
        res, out=out)
    return out_df.drop(ix, iy, radius, "dx", "dy")


def auto_res(n_targets: int, min_cells: int = 1) -> int:
    """Resolution balancing per-cell matrix work against per-group
    cogroup overhead: cell count = max(n_targets / 2000, min_cells),
    at least ``min_cells`` groups (knn_join passes 32x
    defaultParallelism) and at most ~2000 targets per cell. 2000 is
    measured for the packed uint32 kernel (res 5 beat res 7 at 200k
    and 2M targets: per-group cost dominates pair work)."""
    import math
    cells = max(n_targets / 2000, float(min_cells), 1.0)
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


def _count_grid(targets: DataFrame, tx: str, ty: str, level: int):
    """(total, key, n): the target row count, and the targets per cell
    key = ix << level | iy, merged across partitions by one groupBy
    count, so the driver gets one row per occupied cell (at most
    4^level + 1). A target outside the lon/lat envelope (its clamped
    cell does not hold it) or with a NULL coordinate gets key -1:
    counted in the total, never in a cell."""
    ix, iy = cols.grid_ixy(F.col(tx) / 100.0, F.col(ty) / 100.0, level)
    inside = (F.abs(tx) <= 18000) & (F.abs(ty) <= 9000)
    key = F.when(inside, F.shiftleft(ix, level) + iy).otherwise(-1)
    with strategy.described(targets.sparkSession, "knn_join count grid"):
        tbl = (targets.select(key.alias("key")).groupBy("key").count()
               .toArrow())
    key, n = _ints(tbl, "key"), _ints(tbl, "count")
    return int(n.sum()), key[key >= 0], n[key >= 0]


def _search_radius(sat, fx, fy, qx, qy, need: int, res: int,
                   max_radius: int):
    """Per-query disk radius at ``res`` (module docstring, step 2): binary
    search for the smallest fine box whose ``sat`` count is >= need."""
    import numpy as np

    m = sat.shape[0] - 1

    def box(r):
        x0, x1 = np.maximum(fx - r, 0), np.minimum(fx + r + 1, m)
        y0, y1 = np.maximum(fy - r, 0), np.minimum(fy + r + 1, m)
        return sat[x1, y1] - sat[x0, y1] - sat[x1, y0] + sat[x0, y0]

    lo, hi = np.zeros_like(fx), np.full_like(fx, m - 1)
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = box(mid) >= need
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    u = np.hypot((lo + 1) * 36000.0 / m + 1, (lo + 1) * 18000.0 / m + 1)
    r = np.floor(u / (18000.0 / (1 << res))).astype(np.int64) + 1
    found = (box(lo) >= need) & (np.abs(qx) <= 18000) & (np.abs(qy) <= 9000)
    return np.minimum(np.where(found, r, max_radius), max_radius)


def _broadcast_topk(qt, targets: DataFrame, k: int, query_key: str,
                    target_key: str, qx: str, qy: str, tx: str, ty: str,
                    exclude_self: bool) -> DataFrame:
    """Exact kNN for SMALL query sets, from the collected query table
    ``qt`` (query_key, qx, qy): broadcast the queries, compute a
    partition-local top-k over the targets with numpy (NO target
    shuffle, one Arrow batch per scan partition), then merge the
    per-partition partials with one tiny window.

    This is the broadcast twin of the grid path: at 10^12 targets the
    scan stays a scan — each executor reduces its slice to k rows per
    query — and the only shuffle is |partitions| * |Q| * k partial
    rows. Same (dist2, target_key) tie-breaking as the grid path, so
    both return bit-identical results."""
    import pyarrow as pa

    spark = targets.sparkSession
    if not qt.num_rows:
        return spark.createDataFrame(
            [], f"{query_key} long, {target_key} long, dist2 long, "
                f"rank int")
    bc = spark.sparkContext.broadcast(
        (_ints(qt, query_key), _ints(qt, qx), _ints(qt, qy)))

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


# finest count-grid level: bounds the count collect at 4^10 + 1 rows and
# the broadcast summed-area table at (2^10 + 1)^2 int64 (8.4 MB)
FINE_LEVEL = 10
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

    method: "grid" (cell-cogrouped disk join — the index path for large
    query sets), "broadcast" (broadcast-queries partition-local top-k —
    fastest when |Q| is small; at most ``strategy.BROADCAST_ROWS``
    queries, more raises), or "auto" (broadcast when BOTH the query
    side is within strategy.BROADCAST_ROWS rows and the total |Q| * |T|
    distance work is under BROADCAST_WORK_LIMIT — a small query set
    over a huge target table is exactly where the scan's quadratic
    work loses to the grid index). Both are exact and bit-identical.
    "auto" collects the queries once: that bounded collect decides the
    path (over the bound: grid) and feeds the broadcast path, and the
    count grid's total decides the work test.

    The grid path is one lazy plan, no persist or checkpoint, and no
    driver loop; its only eager action is the count-grid collect
    (module docstring), whose total feeds auto_res when ``res`` is
    None. ``max_radius`` (default 2^res, a full sweep) caps the disk
    radius exactly: a capped query gets the nearest targets inside its
    disk. ``exclude_self`` drops targets keyed like the query and
    assumes target keys are unique (every caller passes doc ids). A
    query with a NULL coordinate is dropped.
    """
    import numpy as np
    import pyarrow as pa

    queries = queries.where(F.col(qx).isNotNull() & F.col(qy).isNotNull())
    level = FINE_LEVEL if res is None else min(res + 3, FINE_LEVEL)
    grid = qt = None
    if method in ("auto", "broadcast"):
        try:
            qt = strategy.collect_bounded(
                queries.select(query_key, qx, qy), strategy.BROADCAST_ROWS,
                "knn_join broadcast queries (use method='grid')")
        except strategy.BoundExceeded:
            if method == "broadcast":
                raise
    if method == "auto":
        method = "grid"
        if qt is not None:
            grid = _count_grid(targets, tx, ty, level)
            if qt.num_rows * grid[0] <= BROADCAST_WORK_LIMIT:
                method = "broadcast"
    if method == "broadcast":
        return _broadcast_topk(qt, targets, k, query_key, target_key,
                               qx, qy, tx, ty, exclude_self)
    if method != "grid":
        raise ValueError(f"unknown kNN method {method!r}")
    total, key, cn = grid or _count_grid(targets, tx, ty, level)
    if res is None:
        par = targets.sparkSession.sparkContext.defaultParallelism
        res = auto_res(total, min_cells=par * 32)
    if max_radius is None:
        max_radius = 1 << res  # full sweep fallback
    if max_radius < 0:
        raise ValueError(f"max_radius must be >= 0, got {max_radius}")
    f = min(res + 3, level)  # roll the counts up from level to f
    sat = np.zeros(((1 << f) + 1,) * 2, np.int64)
    np.add.at(sat, ((key >> level >> (level - f)) + 1,
                    ((key & ((1 << level) - 1)) >> (level - f)) + 1), cn)
    bc = targets.sparkSession.sparkContext.broadcast(
        sat.cumsum(axis=0).cumsum(axis=1))

    def radius(it):
        for b in it:
            r = _search_radius(
                bc.value, *(b.column(c).to_numpy() for c in
                            ("_fx", "_fy", qx, qy)),
                k + int(exclude_self), res, max_radius)
            yield b.append_column("_r", pa.array(r, pa.int32()))

    lon, lat = F.col(qx) / 100.0, F.col(qy) / 100.0
    fx, fy = cols.grid_ixy(lon, lat, f)
    ix, iy = cols.grid_ixy(lon, lat, res)
    q = queries.select(query_key, qx, qy, fx.alias("_fx"), fy.alias("_fy"))
    q = q.mapInArrow(radius, StructType(
        q.schema.fields + [StructField("_r", IntegerType())])).select(
        query_key, qx, qy, "_r", ix.alias("_ix"), iy.alias("_iy"))
    tgt = cols.with_cell_col(targets, F.col(tx) / 100.0,
                             F.col(ty) / 100.0, res, out="cell")
    # cogroup the query disks with the targets BY CELL for a numpy
    # top-k per cell: shuffle volume is |queries| * disk + |targets|,
    # never the (query x cell-targets) pair count
    cand = _cell_local_topk(_disk_cells(q, "_ix", "_iy", res, "_r"), tgt,
                            k, query_key, target_key, qx, qy, tx, ty,
                            exclude_self)
    w = Window.partitionBy(query_key).orderBy("dist2", target_key)
    return (cand.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))
