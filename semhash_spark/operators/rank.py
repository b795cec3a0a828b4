"""Ranking / outlier filtering / representative selection.

Reference: ``_rank_by_average_similarity`` (semhash/semhash.py:461-488),
``_self_rank_by_average_similarity`` (:490-519), ``filter_outliers``
(:381-459), ``find_representative`` + ``_diversify`` (:327-379,521-551).

Semantics reproduced:

* score(record) = mean cosine similarity of its top-k (k=100)
  neighbors in the index (self mode excludes the record itself,
  replacing the reference's positional offset trick,
  semhash/index.py:84-88, with an explicit id filter).
* outliers = bottom ``ceil(n * pct)`` of the descending ranking
  (:400,410-413) — ceil boundary reproduced exactly.
* representatives = top ``candidate_limit`` of the ranking, then
  greedy MMR on the driver over <= 1000 rows (collecting a bounded
  candidate pool is the idiomatic plan, SURVEY §2.6 R5).

Top-k plan (``topk_scores``), chosen by index size:

* ``broadcast`` (default when the index fits executor memory): the
  index (id, embedding) table becomes an executor-side blob
  (``blob.write_blob``: a distributed parquet write, packed per host
  into the f64 normalized transposed matrix,
  ``blob.load_feats_rows(ref, "topk")``) and each query partition
  computes exact cosine top-k with one BLAS matmul + 2-D
  argpartition inside ``mapInArrow`` (``kernels._topk_chunks``) — no pair
  shuffle, no window, output is |Q| x k rows only. This is the plan a
  1000-executor cluster wants whenever the index matrix is bounded
  (100k x 64 floats = 50 MB per executor vs a |Q| x |X| pair
  shuffle). ``rank_by_avg_similarity`` on this plan averages inside
  the kernel (``kernels._topk_avgs``, equal to Spark's ``avg`` bit for bit),
  so only |Q| (query_id, avg_score) rows leave it. A call that writes
  its own blob returns the rows detached (``blob.detach``) and has
  dropped the blob; given the blob of a fit, it returns the lazy plan
  and the fit detaches it.
* ``ivf`` (the automatic above-cap fallback): cell-id equi-join from
  operators/knn.py — exhaustively probed by default so results stay
  bit-exact; drop ``n_probe`` below ``n_cells`` for pruned
  approximate search at extreme scale. Averaged with a ``groupBy``.

No |Q| x |X| crossjoin plan: it loses to the broadcast pack at every
measured size (500 x 500: 4.1 s vs 2.5 s; 5k x 5k: 36 s vs 2.3 s — the
per-pair UDF cosine loses to the pack's fixed cost even at tiny
sizes) and its pair materialization does not survive scale.

A fitted cosine ``SparkSemHash`` whose table fits both the fused
threshold scan and the broadcast top-k runs neither separately:
``cosine_self_scan`` makes one pass over the fit's one blob that emits
the self-dedup edges and every row's self-excluded top-k average, and
the fit's self ranking is read from it (``scan_ranking``).
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark import blob
from semhash_spark.functions.arrays import list_matrix, record_batch
from semhash_spark.kernels import (
    _chunked_threshold,
    _ramp,
    _topk_avgs,
    _topk_buffers,
    _topk_chunks,
    normalized_batch,
)

# index sides up to this many rows take the broadcast-matmul path
BROADCAST_TOPK_CAP = 500_000


def _topk_broadcast(
    query_feats: DataFrame,
    index_feats: DataFrame,
    k: int,
    exclude_self: bool,
    id_col: str,
    emb_col: str,
    ref: dict | None = None,
    avg: bool = False,
) -> DataFrame:
    """Index matrix reaches the executors as a blob (``blob.write_blob``:
    distributed parquet write + per-host mmap'd pack — NOT
    ``sc.broadcast``, whose ~100 MB pickle re-streams per task,
    measured ~10 s/task at local[32]); per-batch top-k is fully
    vectorized (``_topk_chunks``). ``ref``: the index blob if its
    owner (a fitted ``SparkSemHash``) already wrote one — the lazy
    frame is returned for the owner to detach; without it the call
    writes its own blob and returns the rows detached.
    ``avg=True`` emits each query's (query_id, avg_score) instead of
    its k neighbor rows."""
    own = None if ref is not None else blob.write_blob(
        index_feats.select(id_col, emb_col), id_col, emb_col, "topk")
    ref = ref or own

    def compute(batches):
        ids_i, mnT, nz = blob.load_feats_rows(ref, "topk")
        zn = ~nz
        bufs = _topk_buffers(len(ids_i), exclude_self)
        for rb in batches:
            batch = normalized_batch(rb, id_col, emb_col) if len(ids_i) else None
            if batch is None:  # NULL queries rank nothing
                continue
            q_ids, qm, qz = batch
            for lo, hi, sorted_i, sorted_s, valid, counts in _topk_chunks(
                q_ids, qm, qz, ids_i, mnT, zn, k, exclude_self, bufs,
            ):
                if avg:
                    q, s = _topk_avgs(q_ids[lo:hi], sorted_s, valid, counts)
                    yield record_batch({"query_id": q, "avg_score": s})
                    continue
                yield record_batch({
                    "query_id": np.repeat(q_ids[lo:hi], counts),
                    "index_id": sorted_i[valid],
                    "score": sorted_s[valid],
                    "rk": _ramp(counts) + 1,
                })

    schema = (
        "query_id long, avg_score double" if avg
        else "query_id long, index_id long, score double, rk long"
    )
    out = query_feats.select(id_col, emb_col).mapInArrow(compute, schema)
    # a query's k rows stay in one partition in rank order, so a Spark
    # avg over them equals the kernel's (``_topk_avgs``)
    return blob.detach(out, own, in_order=not avg) if own else out


def _auto_strategy(
    index_feats: DataFrame, emb_col: str, index_size: tuple[int, int] | None,
) -> tuple[str, tuple[int, int]]:
    """(``broadcast`` or ``ivf``, index size) of ``strategy="auto"``:
    broadcast while the index fits BROADCAST_TOPK_CAP rows and
    VERIFY_BROADCAST_MAX_BYTES and blob transport is available.
    ``index_size``: the index's ``blob._feat_bytes`` if already measured."""
    from semhash_spark.operators.verify import VERIFY_BROADCAST_MAX_BYTES

    index_size = index_size or blob._feat_bytes(index_feats, emb_col)
    n_idx, idx_bytes = index_size
    fits = (
        n_idx <= BROADCAST_TOPK_CAP
        and idx_bytes <= VERIFY_BROADCAST_MAX_BYTES
        and blob.blob_transport_available(index_feats.sparkSession)
    )
    return ("broadcast" if fits else "ivf"), index_size


def topk_scores(
    query_feats: DataFrame,
    index_feats: DataFrame,
    k: int = 100,
    exclude_self: bool = False,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    strategy: str = "auto",
    n_cells: int | None = None,
    n_probe: int | None = None,
    index_size: tuple[int, int] | None = None,
) -> DataFrame:
    """(query_id, index_id, score, rk) for each query's top-k neighbors.

    Deterministic tie-break: (score desc, index_id asc). Zero-norm
    vectors never rank (mirrors NULL-cosine semantics).

    Strategies: ``broadcast`` (executor-side mmap index + BLAS
    matmul — default while the index fits), ``ivf`` (cell equi-join,
    the distributed shape; ``n_probe`` defaults to ``n_cells`` =
    EXHAUSTIVE probing, which keeps results bit-exact vs brute force
    — lower it for approximate pruned search at extreme scale; ``auto``
    falls back to it above the broadcast cap). ``index_size``: the
    index's ``blob._feat_bytes`` when the caller already has it.
    """
    if strategy == "auto":
        strategy, index_size = _auto_strategy(index_feats, emb_col, index_size)
    n_idx = index_size[0] if index_size else None
    if strategy == "ivf":
        from semhash_spark.operators.knn import ivf_topk

        if n_cells is None:
            if n_idx is None:
                n_idx = index_feats.count()
            # sqrt rule bounded to keep the centroid literal small
            n_cells = max(16, min(1024, int(math.isqrt(max(n_idx, 1)))))
        if n_probe is None:
            n_probe = n_cells  # exhaustive -> exact
        return ivf_topk(
            query_feats, index_feats, k, n_cells, n_probe, exclude_self,
            id_col, emb_col,
        )
    if strategy != "broadcast":
        raise ValueError(f"unknown top-k strategy {strategy!r}")
    return _topk_broadcast(query_feats, index_feats, k, exclude_self, id_col, emb_col)


def order_ranking(avgs: DataFrame) -> DataFrame:
    """(query_id, avg_score) ordered descending, ties by id ascending
    (the reference's stable sort of the mean scores)."""
    return avgs.orderBy(F.col("avg_score").desc(), F.col("query_id").asc())


def rank_by_avg_similarity(
    query_feats: DataFrame,
    index_feats: DataFrame,
    k: int = 100,
    exclude_self: bool = False,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    ref: dict | None = None,
    index_size: tuple[int, int] | None = None,
) -> DataFrame:
    """(query_id, avg_score) ordered descending (ties: id asc).

    Mirrors reference :476-480 (mean over top-k sims, stable sort).
    On the broadcast plan the kernel emits each query's average
    (``_topk_avgs``, equal to the ``groupBy`` average bit for bit).
    With its own blob the averages are detached before they are
    sorted, so the sort reads driver-held rows; with a fit's blob
    (``ref``) the fit detaches the ranking, whose row limit plans the
    sort as one ordered take over a single scan. The IVF plan averages
    its top-k rows with a ``groupBy``. ``index_size`` as in
    ``topk_scores``.
    """
    strategy, index_size = _auto_strategy(index_feats, emb_col, index_size)
    if strategy == "broadcast":
        avgs = _topk_broadcast(query_feats, index_feats, k, exclude_self,
                               id_col, emb_col, ref=ref, avg=True)
        return order_ranking(avgs)
    tk = topk_scores(query_feats, index_feats, k, exclude_self, id_col, emb_col,
                     strategy="ivf", index_size=index_size)
    return order_ranking(tk.groupBy("query_id").agg(F.avg("score").alias("avg_score")))


def cosine_self_scan(
    feats: DataFrame,
    ref: dict,
    threshold: float,
    k: int,
    max_k: int | None,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """One pass over a fitted (id, embedding) table that serves both
    self-dedup and the self ranking, against the table's one blob
    ``ref`` (two packs finalized from its one decode: the f32 tiles of
    the threshold scan and the f64 matrix of the top-k). The frame
    reads the blob; its owner, the fit, detaches it
    (``blob.detach``) once per threshold.

    Rows ``(a, b, score)`` with ``a < b`` are the >= ``threshold``
    edges of ``verify.cosine_threshold_edges`` (the same kernel and
    ``max_k`` cap); rows with ``a == b`` carry row ``a``'s mean
    self-excluded top-``k`` score, the ``avg_score`` of
    ``rank_by_avg_similarity(feats, feats, k, exclude_self=True)``.
    Rows with a NULL or zero-norm embedding, or no other row to rank,
    get no average row."""
    from semhash_spark.operators.verify import scan_rows

    thr = float(threshold)

    def scan(batches):
        ids_b, matn, nz_b, blocks = blob.load_feats_rows(ref, "scan")
        ids_t, mnT, nz_t = blob.load_feats_rows(ref, "topk")
        zn = ~nz_t
        bufs = _topk_buffers(len(ids_t), True)
        for rb in batches:
            batch = normalized_batch(rb, id_col, emb_col)
            if batch is None:
                continue
            q_ids, qm, qz = batch
            for r_g, c, sc in _chunked_threshold(
                q_ids, qm, qz, ids_b, matn, blocks, nz_b, thr, max_k, self_mode=True,
            ):
                yield record_batch({"a": q_ids[r_g], "b": ids_b[c], "score": sc})
            for lo, hi, _, sorted_s, valid, counts in _topk_chunks(
                q_ids, qm, qz, ids_t, mnT, zn, k, True, bufs,
            ):
                q, s = _topk_avgs(q_ids[lo:hi], sorted_s, valid, counts)
                yield record_batch({"a": q, "b": q, "score": s})

    return scan_rows(feats, id_col, emb_col, n_rows).mapInArrow(
        scan, "a long, b long, score double")


def scan_edges(scan: DataFrame) -> DataFrame:
    """The threshold edges (a, b, score) of a ``cosine_self_scan``;
    driver-held (``blob.held``) when the scan is."""
    rows = blob.held(scan)
    if rows is None:
        return scan.where(F.col("a") < F.col("b"))
    return blob.hold(scan.sparkSession, rows.filter(
        pa.array(rows["a"].to_numpy() < rows["b"].to_numpy())))


def scan_ranking(scan: DataFrame) -> DataFrame:
    """The self ranking (query_id, avg_score) of a ``cosine_self_scan``,
    ordered as ``rank_by_avg_similarity`` orders it. A driver-held scan
    gives a driver-held ranking (``blob.hold``: one partition, rows
    in ranking order), which ``filter_outliers`` and
    ``find_representative`` slice on the driver instead of running
    jobs."""
    rows = blob.held(scan)
    if rows is None:
        return order_ranking(scan.where(F.col("a") == F.col("b")).select(
            F.col("a").alias("query_id"), F.col("score").alias("avg_score")))
    own = pa.array(rows["a"].to_numpy() == rows["b"].to_numpy())
    own_rows = rows.filter(own).select(["a", "score"]).rename_columns(
        ["query_id", "avg_score"])
    return blob.hold(scan.sparkSession, _ranking_rows(own_rows), one_partition=True)


def _ranking_rows(rows: pa.Table) -> pa.Table:
    """A driver-held ranking's rows in ``order_ranking`` order
    (avg_score desc, query_id asc)."""
    order = np.lexsort((rows["query_id"].to_numpy(), -rows["avg_score"].to_numpy()))
    return rows.take(order)


# boundary searches switch from direct TakeOrdered to quantile
# bracketing above this many rows (driver merge of per-partition
# top-k stays bounded)
OUTLIER_DIRECT_CAP = 2_000_000


def _boundary_key(proj: DataFrame, cnt: int) -> tuple[float, int]:
    """Exact (avg_score, query_id) of the ``cnt``-th smallest row
    under (avg_score asc, query_id desc) — distributed selection.

    Small ``cnt``: TakeOrderedAndProject over the 2-column projection
    (per-partition top-cnt, bounded driver merge). Large ``cnt``:
    approxQuantile bracketing narrows the candidate set each round
    (every round provably shrinks: the quantile is a data value, so
    at least its own ties leave the set) until the direct path fits.
    No single-partition window anywhere.
    """

    def direct(df: DataFrame, k: int) -> tuple[float, int]:
        lim = df.orderBy(F.asc("avg_score"), F.desc("query_id")).limit(k)
        row = lim.agg(
            F.max_by(
                F.struct(F.col("avg_score").alias("s"), F.col("query_id").alias("i")),
                F.struct(F.col("avg_score"), (-F.col("query_id")).alias("ni")),
            ).alias("b")
        ).first()["b"]
        return float(row["s"]), int(row["i"])

    df, k = proj, cnt
    for _ in range(16):
        if k <= OUTLIER_DIRECT_CAP:
            return direct(df, k)
        n = df.count()
        s = df.approxQuantile("avg_score", [min(1.0, k / n)], 0.001)[0]
        n_lt = df.where(F.col("avg_score") < s).count()
        if k <= n_lt and n_lt < n:
            df = df.where(F.col("avg_score") < s)
            continue
        n_le = df.where(F.col("avg_score") <= s).count()
        if k > n_le and n_le > 0:
            df = df.where(F.col("avg_score") > s)
            k -= n_le
            continue
        # the boundary score IS s: pick the (k - n_lt)-th id among
        # its ties, descending (ids are unique)
        ties = df.where(F.col("avg_score") == s).select("query_id")
        kk = k - n_lt
        lim = ties.orderBy(F.desc("query_id")).limit(kk)
        return float(s), int(lim.agg(F.min("query_id").alias("i")).first()["i"])
    return direct(df, k)  # degenerate distribution: give up narrowing


def filter_outliers(
    ranking: DataFrame,
    outlier_percentage: float,
    persisted: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split ranking into (inliers, outliers).

    outlier_count = ceil(n * pct) (reference :400); the bottom slice
    of the descending ranking. Returns DataFrames with
    (query_id, avg_score).

    A driver-held ranking (``blob.held``: the self ranking of a
    fit's driver-held scan, or a ranking the fit detached) is sliced on
    the driver: sorted in ranking order, the inliers are its first
    n - cnt rows and the outliers its last cnt, each a driver-held
    ranking again — no cache, no job. That order read backwards is
    ``_boundary_key``'s (avg asc, id desc) tie order, so both plans
    cut at the same row.

    Scale-safe plan, for every other ranking: instead of a GLOBAL
    un-partitioned row_number window (one task ranks everything), the
    exact cut boundary — the cnt-th smallest (avg_score, query_id
    desc) — is computed by distributed selection and applied as a
    broadcast filter predicate. ids are unique within a ranking, so
    exactly ``cnt`` rows satisfy the boundary predicate: identical
    semantics, no single-partition exchange.

    That ranking is persisted (it feeds the count, the boundary
    search, and both output splits); pass ``persisted`` (a list) to
    receive the cached frame for later ``unpersist`` —
    ``FilterResultDF.release()`` does this for the api surface
    (VERDICT r2 #6: the cache used to leak for the session lifetime).
    An already-cached ranking (e.g. the api's memoized self_rank) is
    left alone: its owner manages that cache, so release() here won't
    yank it from under the memo.
    """
    if outlier_percentage < 0.0 or outlier_percentage > 1.0:
        raise ValueError("outlier_percentage must be between 0 and 1")
    rows = blob.held(ranking)
    if rows is not None:
        rows = _ranking_rows(rows)
        cut = rows.num_rows - math.ceil(rows.num_rows * outlier_percentage)
        spark = ranking.sparkSession
        return (blob.hold(spark, rows.slice(0, cut), one_partition=True),
                blob.hold(spark, rows.slice(cut), one_partition=True))
    if not ranking.is_cached:
        ranking = ranking.persist()
        if persisted is not None:
            persisted.append(ranking)
    n = ranking.count()
    cnt = math.ceil(n * outlier_percentage)
    if cnt == 0:
        return ranking, ranking.limit(0)
    if cnt >= n:
        return ranking.limit(0), ranking
    bs, bi = _boundary_key(ranking.select("avg_score", "query_id"), cnt)
    is_outlier = (F.col("avg_score") < F.lit(bs)) | (
        (F.col("avg_score") == F.lit(bs)) & (F.col("query_id") >= F.lit(bi))
    )
    return ranking.where(~is_outlier), ranking.where(is_outlier)


def compute_candidate_limit(
    total: int,
    selection_size: int,
    fraction: float = 0.1,
    min_candidates: int = 100,
    max_candidates: int = 1000,
) -> int:
    """Verbatim arithmetic of reference semhash/utils.py:36-61."""
    limit = int(total * fraction)
    limit = max(limit, selection_size)
    limit = max(limit, min_candidates)
    limit = min(limit, max_candidates, total)
    return limit


def mmr_select(
    embeddings: np.ndarray,
    relevance: np.ndarray,
    k: int,
    diversity: float,
) -> tuple[list[int], list[float]]:
    """Greedy Maximal Marginal Relevance over a candidate pool.

    score(c) = (1 - diversity) * relevance[c]
               - diversity * max_sim(c, selected)
    First pick = highest relevance. Reproduces the behavior the
    reference pins for pyversity MMR at diversity 0 (pure relevance
    order) and 1 (greedy max-dissimilarity from the top candidate)
    — reference tests/test_semhash.py:197-224.
    """
    n = len(relevance)
    k = min(k, n)
    if k == 0:
        return [], []
    norms = np.linalg.norm(embeddings, axis=1, keepdims=True)
    normed = np.divide(
        embeddings, norms, out=np.zeros_like(embeddings, dtype=np.float64), where=norms > 0
    )
    sims = normed @ normed.T

    selected: list[int] = []
    scores: list[float] = []
    remaining = set(range(n))
    first = int(np.argmax(relevance))
    selected.append(first)
    scores.append(float(relevance[first]))
    remaining.discard(first)
    while len(selected) < k and remaining:
        rem = sorted(remaining)
        max_sim = sims[np.ix_(rem, selected)].max(axis=1)
        mmr = (1.0 - diversity) * relevance[rem] - diversity * max_sim
        best_pos = int(np.argmax(mmr))
        best = rem[best_pos]
        selected.append(best)
        scores.append(float(mmr[best_pos]))
        remaining.discard(best)
    return selected, scores


def msd_select(
    embeddings: np.ndarray,
    relevance: np.ndarray,
    k: int,
    diversity: float,
) -> tuple[list[int], list[float]]:
    """Greedy Max-Sum-Dispersion selection.

    score(c) = (1 - diversity) * relevance[c]
               + diversity * mean_{s in S} (1 - sim(c, s))
    First pick = highest relevance; at diversity 0 this is pure
    relevance order (same pin as MMR). Greedy 1/2-approximation of
    the dispersion objective (Borodin et al., PODS 2012 max-sum
    diversification). Covers the reference's pyversity ``strategy=``
    surface (semhash/semhash.py:11,333) with a documented formula.
    """
    n = len(relevance)
    k = min(k, n)
    if k == 0:
        return [], []
    norms = np.linalg.norm(embeddings, axis=1, keepdims=True)
    normed = np.divide(
        embeddings, norms, out=np.zeros_like(embeddings, dtype=np.float64), where=norms > 0
    )
    sims = normed @ normed.T
    selected: list[int] = []
    scores: list[float] = []
    remaining = set(range(n))
    first = int(np.argmax(relevance))
    selected.append(first)
    scores.append(float(relevance[first]))
    remaining.discard(first)
    while len(selected) < k and remaining:
        rem = sorted(remaining)
        mean_dist = 1.0 - sims[np.ix_(rem, selected)].mean(axis=1)
        obj = (1.0 - diversity) * relevance[rem] + diversity * mean_dist
        best_pos = int(np.argmax(obj))
        best = rem[best_pos]
        selected.append(best)
        scores.append(float(obj[best_pos]))
        remaining.discard(best)
    return selected, scores


def cover_select(
    embeddings: np.ndarray,
    relevance: np.ndarray,
    k: int,
    diversity: float,
) -> tuple[list[int], list[float]]:
    """Greedy facility-location COVER selection.

    cover(x) after selecting S = max_{s in S} sim(x, s);
    gain(c) = mean_x max(0, sim(x, c) - cover(x));
    score(c) = (1 - diversity) * relevance[c] + diversity * gain(c).
    Submodular coverage objective — classic greedy (1 - 1/e)
    guarantee (Nemhauser et al. 1978). First pick = highest
    relevance; diversity 0 = pure relevance order.
    """
    n = len(relevance)
    k = min(k, n)
    if k == 0:
        return [], []
    norms = np.linalg.norm(embeddings, axis=1, keepdims=True)
    normed = np.divide(
        embeddings, norms, out=np.zeros_like(embeddings, dtype=np.float64), where=norms > 0
    )
    sims = normed @ normed.T
    selected: list[int] = []
    scores: list[float] = []
    remaining = set(range(n))
    first = int(np.argmax(relevance))
    selected.append(first)
    scores.append(float(relevance[first]))
    remaining.discard(first)
    cover = sims[:, first].copy()
    while len(selected) < k and remaining:
        rem = sorted(remaining)
        gain = np.maximum(sims[:, rem] - cover[:, None], 0.0).mean(axis=0)
        obj = (1.0 - diversity) * relevance[rem] + diversity * gain
        best_pos = int(np.argmax(obj))
        best = rem[best_pos]
        selected.append(best)
        scores.append(float(obj[best_pos]))
        remaining.discard(best)
        np.maximum(cover, sims[:, best], out=cover)
    return selected, scores


def dpp_select(
    embeddings: np.ndarray,
    relevance: np.ndarray,
    k: int,
    diversity: float,
) -> tuple[list[int], list[float]]:
    """Greedy MAP determinantal-point-process selection.

    Incremental-Cholesky greedy of Chen, Zhang & Zhou, "Fast Greedy
    MAP Inference for Determinantal Point Process" (NeurIPS 2018) on
    the cosine correlation kernel. ``d2[c]`` is the conditional
    variance of candidate ``c`` given the selected set — the log-det
    marginal gain — updated in O(n) per pick. Blended objective
    keeps this repo's strategy convention (first pick = highest
    relevance; diversity 0 = pure relevance order):

        score(c) = (1 - diversity) * relevance[c] + diversity * d2[c]

    Covers the reference's pyversity ``Strategy.DPP``
    (semhash/semhash.py:11,348).
    """
    n = len(relevance)
    k = min(k, n)
    if k == 0:
        return [], []
    norms = np.linalg.norm(embeddings, axis=1, keepdims=True)
    normed = np.divide(
        embeddings, norms, out=np.zeros_like(embeddings, dtype=np.float64), where=norms > 0
    )
    sims = normed @ normed.T

    selected: list[int] = []
    scores: list[float] = []
    d2 = np.ones(n)  # conditional variance given selected (unit diag kernel)
    cho = np.zeros((k, n))  # rows of the incremental Cholesky factor
    alive = np.ones(n, dtype=bool)
    first = int(np.argmax(relevance))
    selected.append(first)
    scores.append(float(relevance[first]))
    while len(selected) < k:
        j = len(selected) - 1
        s = selected[-1]
        alive[s] = False
        if d2[s] > 1e-9:
            e = (sims[s] - cho[:j, s] @ cho[:j]) / np.sqrt(d2[s])
        else:
            # kernel rank exhausted at s: conditioning on s adds no
            # information, so the Cholesky row is zero (standard fast
            # greedy MAP handling; avoids the 1/sqrt(eps) blow-up that
            # overflows later cho[:j,s] @ cho[:j] products to inf/NaN)
            e = np.zeros(n)
        cho[j] = e
        d2 = np.maximum(d2 - e * e, 0.0)
        obj = (1.0 - diversity) * relevance + diversity * d2
        obj[~alive] = -np.inf
        best = int(np.argmax(obj))
        selected.append(best)
        scores.append(float(obj[best]))
    return selected, scores


def ssd_select(
    embeddings: np.ndarray,
    relevance: np.ndarray,
    k: int,
    diversity: float,
    window: int | None = None,
) -> tuple[list[int], list[float]]:
    """Sliding-Spectrum-Decomposition selection.

    Huang et al., "Sliding Spectrum Decomposition for Diversified
    Recommendation" (KDD 2021): the diversity term of a candidate is
    the volume it adds to the parallelepiped spanned by the items in
    a sliding window over the selected sequence — i.e. the residual
    norm after Gram-Schmidt projection onto the window's
    orthogonalized basis. ``window=None`` keeps the whole selection
    in the window (no slide; at the <=1000-candidate pool size the
    slide only matters for very large k). Convention as siblings:
    first pick = highest relevance; diversity 0 = relevance order.

        score(c) = (1 - diversity) * relevance[c] + diversity * ||r_c||

    Covers the reference's pyversity ``Strategy.SSD``
    (semhash/semhash.py:11,348).
    """
    n = len(relevance)
    k = min(k, n)
    if k == 0:
        return [], []
    norms = np.linalg.norm(embeddings, axis=1, keepdims=True)
    normed = np.divide(
        embeddings, norms, out=np.zeros_like(embeddings, dtype=np.float64), where=norms > 0
    )
    win = k if window is None else max(1, window)

    selected: list[int] = []
    scores: list[float] = []
    basis: list[np.ndarray] = []  # orthonormal basis of the window span
    alive = np.ones(n, dtype=bool)
    first = int(np.argmax(relevance))
    selected.append(first)
    scores.append(float(relevance[first]))
    while len(selected) < k:
        s = selected[-1]
        alive[s] = False
        v = normed[s].copy()
        for b in basis:
            v -= (v @ b) * b
        vn = np.linalg.norm(v)
        if vn > 1e-9:
            basis.append(v / vn)
        if len(basis) > win:  # slide: re-orthogonalize the kept tail
            tail = [normed[i] for i in selected[-win:]]
            basis = []
            for t in tail:
                t = t.copy()
                for b in basis:
                    t -= (t @ b) * b
                tn = np.linalg.norm(t)
                if tn > 1e-9:
                    basis.append(t / tn)
        resid = normed.copy()
        for b in basis:
            resid -= np.outer(resid @ b, b)
        rnorm = np.linalg.norm(resid, axis=1)
        obj = (1.0 - diversity) * relevance + diversity * rnorm
        obj[~alive] = -np.inf
        best = int(np.argmax(obj))
        selected.append(best)
        scores.append(float(obj[best]))
    return selected, scores


_DIVERSIFY = {
    "mmr": mmr_select,
    "msd": msd_select,
    "cover": cover_select,
    "dpp": dpp_select,
    "ssd": ssd_select,
}


def diversify(
    embeddings: np.ndarray,
    relevance: np.ndarray,
    k: int,
    diversity: float,
    strategy: str = "mmr",
) -> tuple[list[int], list[float]]:
    """Dispatch over the reference's ``strategy=`` surface
    (semhash/semhash.py:11,333: pyversity MMR/MSD/COVER...)."""
    if strategy not in _DIVERSIFY:
        raise ValueError(
            f"unknown diversify strategy {strategy!r}; one of {sorted(_DIVERSIFY)}"
        )
    return _DIVERSIFY[strategy](embeddings, relevance, k, diversity)


def find_representative(
    ranking: DataFrame,
    feats: DataFrame,
    selection_size: int = 10,
    candidate_limit: int | str = "auto",
    diversity: float = 0.5,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    strategy: str = "mmr",
) -> tuple[list[int], list[float], list[int]]:
    """Top-candidate MMR selection; returns (selected_ids, scores,
    filtered_ids). Collects <= max(candidate_limit, 1000) rows — the
    bounded-driver-side step (SURVEY §2.6 R5): the top candidates of
    the ranking joined to their embeddings, in one collect, ordered on
    the driver by (avg_score desc, id asc). A driver-held ranking
    (``blob.held``) gives its size and top candidates on the driver,
    as a small frame joined to their embeddings."""
    rows = blob.held(ranking)
    if rows is not None:
        rows = _ranking_rows(rows)
    if candidate_limit == "auto":
        n = rows.num_rows if rows is not None else ranking.count()
        candidate_limit = compute_candidate_limit(n, selection_size)
    if rows is not None:
        # a small frame, not a literal id list: candidate_limit is the
        # caller's and may be large
        top = ranking.sparkSession.createDataFrame(rows.slice(0, int(candidate_limit)))
    else:
        top = order_ranking(ranking).limit(int(candidate_limit))
    got = top.join(
        feats.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("_emb")),
        "query_id",
    ).toArrow()
    if got.num_rows == 0:
        return [], [], []
    ids = got["query_id"].to_numpy().astype(np.int64, copy=False)
    scores = got["avg_score"].to_numpy()
    order = np.lexsort((ids, -scores))
    cand_ids = ids[order].tolist()
    relevance = scores[order]
    embs = list_matrix(got["_emb"])[0][order]

    sel_pos, sel_scores = diversify(embs, relevance, selection_size, diversity, strategy)
    sel_ids = [cand_ids[p] for p in sel_pos]
    chosen = set(sel_pos)
    filtered_ids = [cid for p, cid in enumerate(cand_ids) if p not in chosen]
    return sel_ids, sel_scores, filtered_ids
