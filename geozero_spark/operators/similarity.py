"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Every cosine here is built from ONE numpy fold, ``_fold_dot``: an
  ascending-index left fold of IEEE-double products from 0.0, the op
  order of the DuckDB oracle's ``list_reduce``, so both engines produce
  the exact same doubles. Queries are broadcast; targets stream by —
  no shuffle of the big side until the final per-query top-k window
  over k*|Q| candidate rows.
- ``signature_udf`` / ``ann_topk``: the scale path — sign-random-
  projection bit signatures (deterministic hyperplanes derived from a
  seed), banded into buckets; candidates are verified with the exact
  cosine. Recall is tunable via bits/bands; at 100 TB the bucket join
  replaces the |Q| x |T| candidate blow-up with bucket-local work.
- ``ivf_fit`` / ``ivf_topk``: IVF-flat — k-means cells as the
  candidate generator, reranked by the same exact-cosine tail as
  ``ann_topk`` (``_rerank``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, LongType

from ..plans import strategy
from .knn import _select_topk


def _vec_matrix(col: pa.ListArray, name: str,
                dim: int | None = None) -> np.ndarray:
    """(n, dim) float64 matrix from an Arrow list column — the
    float->double widening is exact, so every element equals the SQL
    ``CAST(x AS DOUBLE)``. A NULL vector, or one whose length differs
    from the batch's (or from ``dim``), raises ValueError naming the
    column: ``flatten()`` drops null slots, so the reshape would fail
    or silently misalign rows."""
    n = len(col)
    if col.null_count:
        raise ValueError(f"vector column {name!r} has {col.null_count} "
                         f"NULL vector(s) in a batch of {n}")
    lens = np.diff(np.asarray(col.offsets))
    if n and dim is None:
        dim = int(lens[0])
    if (lens != dim).any():
        raise ValueError(f"vector column {name!r} is ragged: lengths "
                         f"{lens.min()}..{lens.max()}, expected {dim}")
    return np.asarray(col.flatten(), dtype=np.float64).reshape(n, dim or 0)


def _fold_dot(a: np.ndarray, b: np.ndarray,
              out: np.ndarray | None = None) -> np.ndarray:
    """``sum_j a[..., j] * b[..., j]`` over the broadcast leading shapes
    of ``a`` and ``b`` — the ONE exact-cosine fold (dot products and
    squared norms alike). Ascending j from 0.0 with separate multiply
    and add ufuncs (no einsum/dot/matmul: reassociation or FMA breaks
    bit-parity): the exact IEEE-double op sequence of the SQL left fold
    ``aggregate(zip_with(a, b, (x, y) -> x * y), 0.0, (acc, v) -> acc +
    v)`` and of the DuckDB oracle's ``list_reduce``. ``out`` (zeroed
    here) lets a chunked caller reuse its scratch buffer."""
    if out is None:
        out = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    else:
        out.fill(0.0)
    for j in range(a.shape[-1]):
        out += a[..., j] * b[..., j]
    return out


def _cos_key(cos: np.ndarray, out: np.ndarray | None = None) -> np.ndarray:
    """Ascending sort key of Spark's ``cosine DESC`` (NaN greatest, so
    first): -cos with NaN -> -inf. cos = +/-inf cannot occur for finite
    inputs (a zero norm zeroes the dot too, giving NaN), so -inf keys
    are exactly the NaN rows and +inf is free for exclusion filler."""
    key = np.negative(cos, out=out)
    np.copyto(key, -np.inf, where=np.isnan(key))
    return key


def _rank_topk(scored: DataFrame, query_key: str, target_key: str,
               k: int) -> DataFrame:
    """The final per-query window of every operator here: rank by
    (cosine DESC NaN-first, target_key ASC), keep rank <= k."""
    w = Window.partitionBy(query_key).orderBy(
        F.col("cosine").desc(), F.col(target_key))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(query_key, target_key, "cosine", "rank"))


def cosine_topk(queries: DataFrame, targets: DataFrame, k: int,
                query_key: str = "q_id", target_key: str = "t_id",
                qvec: str = "qvec", tvec: str = "tvec",
                exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k: (query_key, target_key, cosine, rank).

    Queries are collected/broadcast (the baseline's contract — small
    query sets); each target partition computes a numpy partial top-k,
    so the big side is never shuffled and only |partitions| * |Q| * k
    partial rows reach the final per-query window. The per-pair double
    is BIT-IDENTICAL to the DuckDB oracle: dot and norms are
    ``_fold_dot`` (the oracle's fold order), and sqrt/multiply/divide
    follow the same op order as ``dot / (sqrt(qn) * sqrt(tn))``. The
    interpreted fold the old SQL form paid (higher-order functions run
    outside codegen) made its |Q| x |T| crossJoin the suite's slowest
    non-kNN query. At most ``strategy.BROADCAST_ROWS`` query rows are
    collected; a larger query side raises instead."""
    qt = strategy.collect_bounded(queries.select(query_key, qvec),
                                  strategy.BROADCAST_ROWS,
                                  "cosine_topk queries")
    spark = queries.sparkSession
    if not qt.num_rows:
        return spark.createDataFrame(
            [], f"{query_key} long, {target_key} long, cosine double, "
                f"rank int")
    qid = np.asarray(qt.column(0), dtype=np.int64)
    qmat = _vec_matrix(qt.column(1).combine_chunks(), qvec)
    sqq = np.sqrt(_fold_dot(qmat, qmat))
    bc = spark.sparkContext.broadcast((qid, qmat, sqq))

    out_schema = f"{query_key} long, {target_key} long, cosine double"
    kq = k

    def local_topk(it):
        qid, qmat, sqq = bc.value
        nq, dim = qmat.shape
        bs = [b for b in it if b.num_rows]
        if not bs:
            return
        tid = np.concatenate([np.asarray(b.column(0), dtype=np.int64)
                              for b in bs])
        tmat = np.concatenate([_vec_matrix(b.column(1), tvec, dim)
                               for b in bs])
        # pre-sort targets by key: a STABLE selection then yields
        # (cosine DESC, target_key ASC) order fully vectorized
        ts = np.argsort(tid, kind="stable")
        tid, tmat = tid[ts], tmat[ts]
        sqt = np.sqrt(_fold_dot(tmat, tmat))
        nt = len(tid)
        kk = min(kq, nt)
        out_q, out_t, out_c = [], [], []
        chunk = min(nq, max(1, (1 << 20) // max(nt, 1)))
        acc = np.empty((chunk, nt), np.float64)
        key = np.empty((chunk, nt), np.float64)
        for s in range(0, nq, chunk):
            e = min(s + chunk, nq)
            m = e - s
            a = _fold_dot(qmat[s:e, None], tmat[None], out=acc[:m])
            with np.errstate(invalid="ignore"):
                cos = np.divide(a, sqq[s:e, None] * sqt[None, :], out=a)
            kb = _cos_key(cos, out=key[:m])
            if exclude_self:
                lo = np.searchsorted(tid, qid[s:e], side="left")
                hi = np.searchsorted(tid, qid[s:e], side="right")
                for r in np.nonzero(hi > lo)[0]:
                    kb[r, lo[r]:hi[r]] = np.inf
            sel, keyo = _select_topk(kb, kk, np.inf)
            keep = (keyo != np.inf).ravel()
            cosv = np.take_along_axis(cos, sel, axis=1).ravel()[keep]
            out_q.append(np.repeat(qid[s:e], kk)[keep])
            out_t.append(tid[sel.ravel()[keep]])
            out_c.append(cosv)
        yield pa.record_batch(
            [pa.array(np.concatenate(out_q), pa.int64()),
             pa.array(np.concatenate(out_t), pa.int64()),
             pa.array(np.concatenate(out_c), pa.float64())],
            names=[query_key, target_key, "cosine"])

    from ..functions import ensure_width
    partials = ensure_width(targets.select(target_key, tvec)) \
        .mapInArrow(local_topk, out_schema)
    return _rank_topk(partials, query_key, target_key, k)


def _pair_cosine_fn(qkey: str, tkey: str, qvec: str, tvec: str,
                    local_k: int):
    """mapInArrow scorer for candidate pairs: emits (qkey, tkey,
    cosine) where cosine is BIT-IDENTICAL to the oracle's
    ``dot / (sqrt(qn) * sqrt(tn))``: dot and both norms are
    ``_fold_dot``, float->double widening is exact, and numpy
    sqrt/divide are the same correctly-rounded IEEE ops the JVM and
    DuckDB use. Vectors arrive as one contiguous Arrow values buffer
    (zero row-wise Python).

    ``local_k``: emit only each query's local_k best pairs OF THIS
    TASK by (cosine DESC NaN-first, tkey ASC) — the same TOTAL order
    the downstream window ranks by, so the global top-k is a subset of
    the union of task-local top-ks and the window's result is
    unchanged, while its input shrinks from |candidates| to
    |tasks| * |Q| * k rows."""
    def f(it):
        acc_q, acc_t, acc_c = [], [], []
        for b in it:
            am = _vec_matrix(b.column(qvec), qvec)
            bm = _vec_matrix(b.column(tvec), tvec, am.shape[1])
            with np.errstate(invalid="ignore"):
                cos = _fold_dot(am, bm) / (np.sqrt(_fold_dot(am, am))
                                           * np.sqrt(_fold_dot(bm, bm)))
            acc_q.append(np.asarray(b.column(qkey), dtype=np.int64))
            acc_t.append(np.asarray(b.column(tkey), dtype=np.int64))
            acc_c.append(cos)
        if acc_q:
            qa = np.concatenate(acc_q)
            ta = np.concatenate(acc_t)
            ca = np.concatenate(acc_c)
            order = np.lexsort((ta, _cos_key(ca), qa))
            qs = qa[order]
            pos = np.arange(len(qs))
            head = np.ones(len(qs), dtype=bool)
            head[1:] = qs[1:] != qs[:-1]
            # each pair's rank within its query's run of sorted pairs
            rank = pos - np.maximum.accumulate(np.where(head, pos, 0))
            take = order[rank < local_k]
            yield pa.record_batch(
                [pa.array(qa[take], type=pa.int64()),
                 pa.array(ta[take], type=pa.int64()),
                 pa.array(ca[take], type=pa.float64())],
                names=[qkey, tkey, "cosine"])

    return f


# --------------------------------------------------------------------------
# portable (dual-dialect SQL) sign-random-projection signatures
# --------------------------------------------------------------------------
#
# Plane components come from a Lehmer-style integer hash instead of a
# numpy RNG, and the projections are LEFT FOLDS over the embedding —
# the exact pattern already proven bit-identical across Spark and DuckDB
# for cosine_topk. That makes the *whole* LSH pipeline (signatures ->
# band buckets -> bucket join -> exact-cosine rerank) reproducible in
# the DuckDB oracle, so the approximate operator gets a full content
# check, not a rows-only one. Uniform(-1,1) plane entries replace
# Gaussians; for sign projections this only mildly perturbs the angle
# estimate and leaves the banding math unchanged.

_LEHMER_M = 2147483647  # 2^31 - 1 (products stay < 2^47 « 2^63)
_LEHMER_A = 48271


def _plane_val_sql(seed: int, bit: int, j: str) -> str:
    """Deterministic plane component in [-1, 1] as portable SQL
    (identical text valid in Spark SQL and DuckDB; j is an expression
    for the 0-based vector index)."""
    base = seed * 131071 + bit * 8191 + 1  # folded, emitted as BIGINT
    h0 = (f"(((CAST({base} AS BIGINT) + ({j})) % {_LEHMER_M}) + 1)")
    h1 = f"(({h0} * {_LEHMER_A}) % {_LEHMER_M})"
    h2 = f"(({h1} * {_LEHMER_A}) % {_LEHMER_M})"
    return f"CAST(({h2} % 2000001) - 1000000 AS DOUBLE) / 1000000.0e0"


def _proj_sql(vec: str, dim: int, seed: int, bit: int, d: str) -> str:
    """Left-fold dot(vec, plane_bit) — fold order mirrored across
    dialects so the resulting double (and hence its sign) is identical."""
    pv = _plane_val_sql(seed, bit, "j")
    if d == "duckdb":
        return (f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"list_transform(range(1, {dim} + 1), i -> "
                f"CAST({vec}[i] AS DOUBLE) * "
                f"{_plane_val_sql(seed, bit, 'i - 1')})), "
                f"(acc, v) -> acc + v)")
    return (f"aggregate(zip_with({vec}, sequence(0, {dim} - 1), "
            f"(v, j) -> CAST(v AS DOUBLE) * {pv}), "
            f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def srp_band_buckets_sql(vec: str, dim: int, bits: int = 32,
                         bands: int = 4, seed: int = 42,
                         d: str = "spark") -> list[str]:
    """One bucket-id expression per band: ``(band << 58) | sign bits``.

    Bit order matches signature_udf (most significant bit = first
    hyperplane of the band)."""
    rows = bits // bands
    out = []
    for b in range(bands):
        terms = []
        for r in range(rows):
            bit = b * rows + r
            weight = 1 << (rows - 1 - r)
            terms.append(
                f"(CASE WHEN {_proj_sql(vec, dim, seed, bit, d)} > 0 "
                f"THEN {weight} ELSE 0 END)")
        out.append(f"(CAST({b} AS BIGINT) * {1 << 58} + ("
                   + " + ".join(terms) + "))")
    return out


def signature_udf(dim: int, bits: int = 32, bands: int = 4,
                  seed: int = 42):
    """Vectorized sign-random-projection band signatures.

    Returns ``sig(vec_col) -> Column``, an array<long> of length
    ``bands``: each entry hashes bits/bands sign bits of deterministic
    hyperplane projections. One matmul per Arrow batch (numpy), no
    per-row Python; vectors are read through ``_vec_matrix``, so a NULL
    or wrong-length vector raises naming ``vec_col``.
    """
    planes = np.random.default_rng(seed).standard_normal((bits, dim))
    rows = bits // bands
    # band packing fully vectorized: a (bands, rows) reshape matmul'd
    # with bit weights replaces the per-row Python bit loop (~96 int
    # ops/row — measured 2.5x on the whole signature stage)
    w = (1 << np.arange(rows - 1, -1, -1)).astype(np.int64)
    tags = (np.arange(bands, dtype=np.int64) << 58)

    def sig(vec_col: str) -> Column:
        @arrow_udf(ArrayType(LongType()))
        def f(vecs: pa.Array) -> pa.Array:
            mat = _vec_matrix(vecs, vec_col, dim)
            sign = (mat @ planes.T) > 0  # (n, bits)
            out = (sign.reshape(len(vecs), bands, rows).astype(np.int64)
                   @ w + tags)
            return pa.ListArray.from_arrays(
                np.arange(0, out.size + 1, bands, dtype=np.int32),
                out.ravel())

        return f(F.col(vec_col))

    return sig


def ann_topk(queries: DataFrame, targets: DataFrame, k: int, dim: int,
             query_key: str = "q_id", target_key: str = "t_id",
             qvec: str = "qvec", tvec: str = "tvec",
             bits: int = 32, bands: int = 4, seed: int = 42,
             exclude_self: bool = True,
             portable: bool = False,
             max_bucket: int | None = 100000) -> DataFrame:
    """Approximate top-k: LSH band-bucket candidates, exact cosine
    verify, per-query window. Same output schema as cosine_topk.

    portable=True derives signatures from hash-based planes via pure
    SQL expressions (JVM-side, DuckDB-reproducible — the oracle mode);
    portable=False uses the vectorized numpy matmul (the scale mode).

    ``max_bucket`` bounds the candidate join against degenerate
    buckets — e.g. a mass of all-zero or byte-identical embeddings
    signs identically in every band, and an unbounded ``q JOIN t ON
    bucket`` then goes quadratic in that mass (the exact skew
    minhash_lsh_pairs bounds with its own max_bucket). Band buckets
    whose TARGET population exceeds the cap are dropped via a window
    count over the SAME (bucket) exchange the join needs — the
    signature UDF evaluates once and the target side still shuffles
    exactly once (a separate count-aggregate branch would re-run the
    whole signature pipeline for a second pass over the targets) — so
    per query and band at most ``max_bucket`` candidates arrive.
    Queries landing only in dropped buckets return no rows — the
    standard LSH degradation; the operator is approximate by
    contract. ``None`` disables the bound."""
    qk = queries.select(query_key, qvec)
    tk = targets.select(target_key, tvec)
    # candidate generation over SLIM (key, bucket) rows: the 64-float
    # payloads must not ride the bucket join, the max_bucket window, or
    # the pair dedup exchange (guide §8: decide with small rows, move
    # big rows once) — the old shape shuffled qvec+tvec on every
    # candidate row through dropDuplicates
    if portable:
        def _sigged(df, key, vec):
            exprs = srp_band_buckets_sql(vec, dim, bits, bands, seed)
            arr = "array(" + ", ".join(exprs) + ")"
            return (df.withColumn("bucket", F.explode(F.expr(arr)))
                    .select(key, "bucket"))
        qb = _sigged(qk, query_key, qvec)
        tb = _sigged(tk, target_key, tvec)
    else:
        sig = signature_udf(dim, bits, bands, seed)
        qb = qk.select(query_key,
                       F.explode(sig(qvec)).alias("bucket"))
        tb = tk.select(target_key,
                       F.explode(sig(tvec)).alias("bucket"))
    if max_bucket is not None:
        wb = Window.partitionBy("bucket")
        tb = (tb.withColumn("_bn", F.count("*").over(wb))
              .where(F.col("_bn") <= max_bucket).drop("_bn"))
    cand = qb.join(tb, on="bucket").select(query_key, target_key)
    if exclude_self:
        cand = cand.where(F.col(query_key) != F.col(target_key))
    cand = cand.dropDuplicates([query_key, target_key])
    return _rerank(cand, qk, tk, k, query_key, target_key, qvec, tvec)


def _rerank(cand: DataFrame, qk: DataFrame, tk: DataFrame, k: int,
            query_key: str, target_key: str, qvec: str,
            tvec: str) -> DataFrame:
    """Exact-cosine top-k over SLIM (query_key, target_key) candidate
    pairs — the keys-first tail of ann_topk and ivf_topk. The payloads
    (``qk`` = (query_key, qvec), ``tk`` = (target_key, tvec)) are
    re-attached once, per side, AFTER the pair set is final, and scored
    by ``_pair_cosine_fn`` in the join's own stage with local top-k
    preselection, so the vectors never cross another exchange: the
    final window shuffles only (q, t, cosine)."""
    joined = (cand.join(tk, on=target_key).join(qk, on=query_key)
              .select(query_key, target_key, qvec, tvec))
    scored = joined.mapInArrow(
        _pair_cosine_fn(query_key, target_key, qvec, tvec, local_k=k),
        f"{query_key} long, {target_key} long, cosine double")
    return _rank_topk(scored, query_key, target_key, k)


# ---------------------------------------------------------------------------
# IVF-flat ANN: deterministic coarse quantizer + probe search
# ---------------------------------------------------------------------------
#
# The second classic ANN scale path next to LSH: a coarse quantizer
# (k-means centroids) partitions the vectors; a query probes its
# nearest `probe` centroids and reranks only those clusters' vectors
# with the exact cosine. At 10^12 rows the cluster assignment is a
# stored column (partition key), so a probe touches probe/k of the
# data — the IVF dual of the LSH bucket join. Everything here is
# DETERMINISTIC and mirrored op for op by the DuckDB oracle (ann_ivf):
# - centroid init: the vectors with the k smallest target keys, kept
#   as a driver-side (cids, cmat) pair every Arrow pass closes over;
# - Lloyd rounds: assignment = argmax cosine with (cos DESC, cid)
#   tie-break; recompute = per-dimension mean where the sum FOLDS in
#   ascending target_key order from 0.0 (array_sort(collect_list) +
#   aggregate here, list(val ORDER BY t_id) + list_reduce there), so
#   float addition order is bit-identical;
# - assignment, probe and rerank all score with ``_fold_dot``; the
#   rerank is ann_topk's keys-first tail (``_rerank``).


def _nearest_fn(cmat: np.ndarray, nsel: int):
    """x (n, dim) -> (n, nsel) indices of the nsel nearest cmat rows
    (cid-ascending) by cosine ``_fold_dot(x[:, None], cmat[None]) /
    (sqrt(qn) * sqrt(cn))`` — BIT-IDENTICAL to the Spark SQL fold the
    DuckDB oracle mirrors (pinned in tests/test_similarity.py).
    ``knn._select_topk`` over ``_cos_key`` gives Spark's (cos DESC
    NaN-first, cid ASC) order, so a zero-norm vector (NaN against every
    centroid) deterministically takes the lowest cids."""
    croot = np.sqrt(_fold_dot(cmat, cmat))

    def nearest(x):
        denom = np.sqrt(_fold_dot(x, x))[:, None] * croot[None, :]
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = _fold_dot(x[:, None], cmat[None]) / denom
        return _select_topk(_cos_key(cos), nsel, np.inf)[0]
    return nearest


def _assign(vectors: DataFrame, cids: np.ndarray, cmat: np.ndarray,
            key: str, vec: str, topn: int = 1) -> DataFrame:
    """(key, cid) of the `topn` nearest centroids (``_nearest_fn``):
    one map-only Arrow pass closed over the driver-side (cids, cmat)
    pair — no collect, no crossJoin, no row_number window."""
    nsel = min(topn, len(cids))
    nearest = _nearest_fn(cmat, nsel)

    def f(it):
        for b in it:
            order = nearest(_vec_matrix(b.column(vec), vec, cmat.shape[1]))
            yield pa.record_batch(
                [b.column(key).take(np.repeat(np.arange(b.num_rows), nsel)),
                 pa.array(cids[order].ravel(), type=pa.int64())],
                names=[key, "cid"])

    key_type = dict(vectors.dtypes)[key]
    return vectors.select(key, vec).mapInArrow(
        f, f"{key} {key_type}, cid long")


def _lloyd_partials(targets: DataFrame, cmat: np.ndarray,
                    tvec: str) -> DataFrame:
    """A fast Lloyd round as ONE map-only Arrow pass: assign each vector
    as ``_assign`` does, and emit per non-empty partition k rows (part,
    ci, n, s) = cmat row, member count, member sum in row order."""
    k, dim = cmat.shape
    nearest = _nearest_fn(cmat, 1)

    def f(it):
        cnt, tot = np.zeros(k, dtype=np.int64), np.zeros((k, dim))
        for b in it:
            x = _vec_matrix(b.column(0), tvec, dim)
            ci = nearest(x)[:, 0]
            cnt += np.bincount(ci, minlength=k)
            np.add.at(tot, ci, x)
        if cnt.any():
            yield pa.record_batch(
                [pa.array([TaskContext.get().partitionId()] * k, pa.int32()),
                 pa.array(np.arange(k, dtype=np.int32)), pa.array(cnt),
                 pa.ListArray.from_arrays(
                     np.arange(0, k * dim + 1, dim, dtype=np.int32),
                     tot.ravel())],
                names=["part", "ci", "n", "s"])

    return targets.select(tvec).mapInArrow(
        f, "part int, ci int, n long, s array<double>")


def _centroid_means(assign: DataFrame, targets: DataFrame,
                    target_key: str, tvec: str) -> DataFrame:
    """A portable Lloyd round's (cid, pos, m) means: the oracle's sorted
    fold, which buffers a (cid, pos) group's member values at once."""
    pe = (assign.join(targets.select(target_key, tvec), on=target_key)
          .select("cid", F.col(target_key).alias("_tk"),
                  F.posexplode(tvec).alias("pos", "val")))
    return (pe.groupBy("cid", "pos")
            .agg(F.expr("aggregate(array_sort(collect_list("
                        "struct(_tk, val))), CAST(0.0 AS DOUBLE), "
                        "(acc, s) -> acc + s.val)").alias("_s"),
                 F.count("*").alias("_n"))
            .withColumn("m", F.col("_s") / F.col("_n").cast("double")))


def _ivf_centroids(targets: DataFrame, k_clusters: int, iters: int,
                   target_key: str, tvec: str, fast: bool):
    """ivf_fit as the driver-side (cids, cmat) pair, cid-ascending; a
    cluster that wins no member is dropped, as a groupBy drops it."""
    spark = targets.sparkSession
    with strategy.described(spark, "ivf_fit seed centroids"):
        seed = (targets
                .select(F.col(target_key).cast("long").alias("cid"), tvec)
                .orderBy("cid").limit(k_clusters).collect())
    if len(seed) < k_clusters:
        raise ValueError(
            f"ivf_fit: need >= {k_clusters} target vectors to seed "
            f"centroids, got {len(seed)}")
    cids = np.array([r[0] for r in seed], dtype=np.int64)
    cmat = _vec_matrix(pa.array([r[1] for r in seed],
                                pa.list_(pa.float64())), tvec)
    for _ in range(iters):
        if fast:  # merge the partials in collect (= partition) order
            with strategy.described(spark, "ivf_fit Lloyd partials"):
                rows = _lloyd_partials(targets, cmat, tvec).collect()
            strategy.check_bound("ivf_fit Lloyd partials", len(rows),
                                 len({r.part for r in rows}) * len(cids))
            cnt, tot = np.zeros(len(cids)), np.zeros(cmat.shape)
            for r in rows:
                cnt[r.ci] += r.n
                tot[r.ci] += r.s
            keep = cnt > 0
            cids, cmat = cids[keep], tot[keep] / cnt[keep, None]
        else:
            with strategy.described(spark, "ivf_fit portable means"):
                means = sorted(_centroid_means(
                    _assign(targets, cids, cmat, target_key, tvec),
                    targets, target_key, tvec).collect())
            strategy.check_bound("ivf_fit portable means", len(means),
                                 cmat.size)
            cids = np.unique([r.cid for r in means])
            cmat = np.array([r.m for r in means]).reshape(len(cids), -1)
    return cids, cmat


def ivf_fit(targets: DataFrame, k_clusters: int, iters: int = 2,
            target_key: str = "t_id", tvec: str = "tvec",
            fast: bool = False) -> DataFrame:
    """Deterministic k-means: seed from the k SMALLEST target keys
    (TakeOrderedAndProject — no full sort, works for offset / sparse /
    filtered key spaces, unlike a ``key < k`` predicate which silently
    under-seeds), then `iters` Lloyd rounds. Raises ValueError when
    fewer than k seed vectors exist. Returns (cid, cvec array<double>),
    one row per non-empty cluster; cid = the seed row's key.

    Each round recomputes the driver-side centroids. ``fast=False``
    (oracle mode) collects the k*dim sorted-fold means, whose
    collect_list buffers a cluster-dimension's every member value.
    ``fast=True`` (scale mode) merges the per-partition (count, sum)
    rows of one map-only Arrow pass (``_lloyd_partials``); assignments
    agree except at cosine ties to machine precision (float-sum
    reordering; tests pin sf-corpus agreement)."""
    cids, cmat = _ivf_centroids(targets, k_clusters, iters, target_key,
                                tvec, fast)
    return targets.sparkSession.createDataFrame(
        list(zip(cids.tolist(), cmat.tolist())),
        "cid long, cvec array<double>")


def ivf_topk(queries: DataFrame, targets: DataFrame, k: int,
             k_clusters: int = 8, probe: int = 2, iters: int = 2,
             query_key: str = "q_id", target_key: str = "t_id",
             qvec: str = "qvec", tvec: str = "tvec",
             exclude_self: bool = True, fast: bool = False) -> DataFrame:
    """IVF-flat approximate top-k: (query_key, target_key, cosine,
    rank). Candidates = vectors whose cluster is among the query's
    `probe` nearest centroids, as slim (query_key, target_key) pairs;
    the rerank is ann_topk's exact-cosine tail (``_rerank``), so a
    zero-norm vector gets NaN-first rows exactly as in cosine_topk and
    ann_topk. ``fast``: ivf_fit's scale mode."""
    cids, cmat = _ivf_centroids(targets, k_clusters, iters, target_key,
                                tvec, fast)
    t_assign = _assign(targets, cids, cmat, target_key, tvec)
    q_probe = _assign(queries, cids, cmat, query_key, qvec, topn=probe)
    cand = q_probe.join(t_assign, on="cid").select(query_key, target_key)
    if exclude_self:
        cand = cand.where(F.col(query_key) != F.col(target_key))
    return _rerank(cand, queries.select(query_key, qvec),
                   targets.select(target_key, tvec), k, query_key,
                   target_key, qvec, tvec)
