"""Exact verification of candidate pairs: the Spark plans around the
scoring kernels of ``kernels.py`` and the blobs of ``blob.py``.

The reference never needs this (its ANN returns exact cosine
distances, semhash/index.py:59); in the LSH plan, candidates are
probabilistic and every surviving pair is re-scored exactly.

Set similarity (Jaccard, containment) has two physical strategies,
chosen by feature-table size:

* ``broadcast`` — the (id, shingles) table becomes a blob; the pair
  stream ships only (a, b) longs through Arrow (~16 bytes/pair
  instead of two ~1 KB arrays/pair) and a mapInArrow kernel gathers
  both sides from the mmap'd pack and intersects them with one
  row-wise padded sort per batch. Measured ~8x faster than either
  join-based form at 576k pairs / 100k records (local[32]).
* ``join`` — two hash joins rehydrate the arrays onto the pairs and
  JVM ``array_intersect`` scores them (|A∪B| derived as
  |A|+|B|-|A∩B|, both sides duplicate-free). This is the fallback
  when the feature table exceeds executor memory or no blob can reach
  the executors; AQE skew-join splitting handles hot hub ids from
  star-edged mega-buckets.

Cosine pairs are not verified after the fact below the blob caps: the
fused scans (``cosine_threshold_edges`` and its cross and IVF forms)
generate and score them in one f32 gemm pass over the embedding blob
with an exact float64 rescore of the survivors. ``verify_cosine``
scores LSH candidates against the blob, or by a join above the caps.

Integer-exact set scores in both strategies: identical counts,
identical float64 division — bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from semhash_spark import blob
from semhash_spark.functions.arrays import list_matrix, record_batch
from semhash_spark.functions.vectors import cosine_similarity
from semhash_spark.kernels import (
    _build_blocks,
    _chunked_threshold,
    _locate_rows,
    _normalize_rows,
    normalized_batch,
    score_set_pairs,
)

# feature tables up to this many rows take the broadcast-blob path
VERIFY_BROADCAST_CAP = 2_000_000
# ... but never when the estimated payload exceeds this many bytes
# (shingle arrays are unbounded, so a row cap alone can admit a
# multi-GB blob — ADVICE r1). 1 GiB mmap'd per executor is the
# practical ceiling; above it the join strategy stays distributed.
VERIFY_BROADCAST_MAX_BYTES = 1 << 30
# byte ceiling for F.broadcast join hints (per-executor JVM hash
# relation, less forgiving than an mmap'd file)
JOIN_BROADCAST_MAX_BYTES = 256 << 20
# ... and below this many bytes the blob machinery's fixed cost
# (distributed parquet write + per-executor pack, several jobs) costs
# more than it saves — tiny feature tables take the broadcast-hinted
# JOIN path instead (measured: the blob pack is a ~1-3 s fixed cost
# that dominates small-table queries while winning 8x at 100k rows)
VERIFY_BLOB_MIN_BYTES = 8 << 20


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def jaccard_similarity(a: str | Column, b: str | Column) -> Column:
    """Exact Jaccard of two array<long> set columns (elements distinct
    within each array, as produced by shingle_hashes).

    |A ∪ B| is derived as |A| + |B| - |A ∩ B| (valid because each
    side is duplicate-free), skipping the array_union hash-set build
    — one interpreted set op per pair instead of two.
    """
    inter = F.size(F.array_intersect(_c(a), _c(b)))
    union = F.size(_c(a)) + F.size(_c(b)) - inter
    return F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))


def containment_score(a: str | Column, b: str | Column) -> Column:
    """|A ∩ B| / min(|A|, |B|) of two array<long> set columns."""
    inter = F.size(F.array_intersect(_c(a), _c(b))).cast("double")
    small = F.least(F.size(_c(a)), F.size(_c(b))).cast("double")
    return F.when(small > 0, inter / small).otherwise(F.lit(0.0))


def cosine_fused_fits(cfg, n_rows: int, n_bytes: int, spark) -> bool:
    """The fused cosine scan's gate (self and cross dedup): the
    embedding table (``n_rows``, ``n_bytes`` from ``blob._feat_bytes``)
    fits ``cfg.cosine_fused_cap`` (default VERIFY_BROADCAST_CAP) and
    VERIFY_BROADCAST_MAX_BYTES, and blob transport is available."""
    cap = cfg.cosine_fused_cap if cfg.cosine_fused_cap is not None else VERIFY_BROADCAST_CAP
    return (
        n_rows <= cap
        and n_bytes <= VERIFY_BROADCAST_MAX_BYTES
        and blob.blob_transport_available(spark)
    )


def _verify_set_broadcast(
    pairs: DataFrame,
    feats: DataFrame,
    feat_col: str,
    id_col: str,
    threshold: float | None,
    left: str,
    right: str,
    metric: str = "jaccard",
) -> DataFrame:
    """Broadcast-blob set scoring shared by Jaccard AND containment
    (VERDICT r3 #4): same sharded pack, id lookup and padded-sort
    intersection kernel; only the final ratio — and the exact-safe
    size prune, which is sound for Jaccard only (containment of the
    smaller side can be 1.0 at any size skew) — differ per metric."""
    # blob only the features PAIRS ACTUALLY REFERENCE: candidate ids
    # are typically a small fraction of the corpus (bucketed LSH
    # pairs concentrate on collision-prone rows), and pack time is
    # the verify stage's serial component — a semi-join prune on the
    # id projection shrinks it proportionally
    pair_ids = (
        pairs.select(F.col(left).alias("_pid"))
        .union(pairs.select(F.col(right).alias("_pid")))
        .distinct()
    )
    # no broadcast hint: AQE broadcasts the id set when it is small
    # and falls back to an ids-only shuffle when it is not
    needed = feats.join(pair_ids, feats[id_col] == F.col("_pid"), "left_semi")
    ref = blob.write_blob(needed.select(id_col, feat_col), id_col, feat_col, "verify")

    def score(batches):
        pack = blob.load_feats_segments(ref)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            a, b, s = score_set_pairs(
                pack, batch[left].to_numpy().astype(np.int64, copy=False),
                batch[right].to_numpy().astype(np.int64, copy=False),
                threshold, metric, left, right,
            )
            if len(a):
                yield record_batch({left: a, right: b, "score": s})

    return blob.detach(pairs.select(left, right).mapInArrow(
        score, f"{left} long, {right} long, score double"), ref)


def verify_jaccard(
    pairs: DataFrame,
    feats: DataFrame,
    feat_col: str = "shingles",
    id_col: str = "record_id",
    threshold: float | None = None,
    left: str = "a",
    right: str = "b",
    strategy: str = "auto",
) -> DataFrame:
    """Score pairs with exact Jaccard similarity of shingle sets.

    ``auto`` takes the broadcast-blob path when the feature table is
    small enough to ship to every executor; the join path otherwise.
    Fit decisions are BYTE-based (rows x measured array sizes), not
    row-count based — shingle arrays are unbounded so a row cap
    alone can admit a multi-GB payload (ADVICE r1). The broadcast
    path requires every pair id to exist in ``feats`` (validated
    worker-side) and returns only (left, right, score) columns. The
    join path broadcast-hints the feature side when it fits (skips
    shuffling the shingle arrays; the pair stream stays partitioned
    in place).
    """
    return _verify_sets(pairs, feats, feat_col, id_col, threshold, left, right,
                        strategy, "jaccard")


def verify_containment(
    pairs: DataFrame,
    feats: DataFrame,
    feat_col: str = "shingles",
    id_col: str = "record_id",
    threshold: float | None = None,
    left: str = "a",
    right: str = "b",
    strategy: str = "auto",
) -> DataFrame:
    """Score pairs with the containment ratio |A∩B| / min(|A|,|B|).

    Same strategy surface as ``verify_jaccard`` (VERDICT r3 #4: the
    containment stage used to join full shingle arrays onto its
    candidates; the auto broadcast-blob path ships ids only through
    the pair stream and reads the shingle payload from the mmap'd
    executor blob). Returns (left, right, score).
    """
    return _verify_sets(pairs, feats, feat_col, id_col, threshold, left, right,
                        strategy, "containment").select(left, right, "score")


def _verify_sets(pairs, feats, feat_col, id_col, threshold, left, right, strategy,
                 metric) -> DataFrame:
    """The strategy choice and join plan shared by ``verify_jaccard``
    and ``verify_containment`` (see ``verify_jaccard``)."""
    n_rows, est_bytes = blob._feat_bytes(feats, feat_col)
    feats_fit = n_rows <= VERIFY_BROADCAST_CAP and est_bytes <= VERIFY_BROADCAST_MAX_BYTES
    if strategy == "auto":
        extra = set(pairs.columns) - {left, right}
        strategy = (
            "broadcast"
            if not extra
            and feats_fit
            and est_bytes >= VERIFY_BLOB_MIN_BYTES
            and blob.blob_transport_available(feats.sparkSession)
            else "join"
        )
    if strategy == "broadcast":
        return _verify_set_broadcast(
            pairs, feats, feat_col, id_col, threshold, left, right, metric
        )
    fa = feats.select(F.col(id_col).alias(left), F.col(feat_col).alias("_fa"))
    fb = feats.select(F.col(id_col).alias(right), F.col(feat_col).alias("_fb"))
    if est_bytes <= JOIN_BROADCAST_MAX_BYTES:
        fa, fb = F.broadcast(fa), F.broadcast(fb)
    j = pairs.join(fa, left).join(fb, right)
    score = jaccard_similarity if metric == "jaccard" else containment_score
    scored = j.withColumn("score", score("_fa", "_fb")).drop("_fa", "_fb")
    if threshold is not None:
        scored = scored.where(F.col("score") >= threshold)
    return scored


# below this row count the IVF payload-blob plan's fixed cost (blob
# write job + executor pack) exceeds what the id-only shuffle saves;
# above it the shuffle carries ids instead of n_probe + n_salt copies
# of every embedding (guide §8)
_IVF_BLOB_MIN_ROWS = 100_000
# probe rows per salted IVF scan subgroup (``group_cap=None``).
# applyInArrow materializes a WHOLE group in one python worker, and
# correlated embeddings skew cell populations (round 5: unsalted
# mega-cell groups OOM'd a 128 GiB box at 1M rows), so group size is
# bounded by salting the probe stream and replicating the capped home
# pack. Output-invariant.
_IVF_GROUP_CAP = 50_000


def cosine_threshold_edges_ivf(
    feats: DataFrame,
    threshold: float,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    n_cells: int | None = None,
    n_probe: int = 2,
    cell_cap: int = 20000,
    max_k: int | None = None,
    seed: int = 42,
    n_rows: int | None = None,
    group_cap: int | None = None,
) -> DataFrame:
    """All self pairs (a < b, score >= threshold) via coarse IVF
    cells + per-cell fused gemm — the at-scale cosine plan for MID
    thresholds, where SRP banding's per-band collision rate on
    sub-threshold pairs explodes (measured round 5: θ=0.75 on the
    code corpus, SRP at 2048 bits/128 bands emits 4.1% of ALL pairs
    as candidates — 2e10 pair materializations at 1M rows — while
    IVF bounds total scan work at ~n^2 * n_probe / n_cells gemm
    FLOPs with NO pair materialization at all).

    Plan shape (Spark-idiomatic, scales by adding executors):
      1. driver k-means over a bounded deterministic sample
         (``train_centroids`` — ordered-id sample, fixed seed)
      2. every row gets its ``n_probe`` nearest cells (vectorized
         Arrow UDF, home cell first), posexplode → (row, cell)
      3. every cell's home pack is pre-capped to its ``cell_cap``
         lowest-id rows (window), the probe stream is salted so no
         applyInArrow group holds more than ~``group_cap`` probe
         rows, and the small capped pack replicates to each salt —
         correlated embeddings make mega-cells (measured round 5:
         unsalted groups OOM'd the box at 1M rows), and
         applyInArrow materializes a whole group per worker, so
         group size must be bounded BY CONSTRUCTION, not by hope
      4. groupBy(cell, salt).applyInArrow: each subgroup runs the
         SAME chunked f32-scan/f64-rescore kernel as the fused path,
         probe rows x the cell's capped home pack
      5. least/greatest normalize + distinct (a pair can surface in
         at most 2 cells; its score is bit-identical in both, so
         ``distinct`` dedups exactly — salting adds no new pair
         sources: each probe instance lands in exactly one salt and
         sees the identical pack every salt sees)

    Coverage: pair (x, y) is scanned iff home(y) ∈ probes(x) or
    home(x) ∈ probes(y) — standard IVF dedup coverage; recall vs the
    complete edge set is asserted in tests/test_recall.py. Skew: an
    oversized cell (common-boilerplate mega-cluster) scans only its
    ``cell_cap`` lowest-id home rows — every probe row still reaches
    the cell's min-id members, so >=θ cliques stay connected for
    min-id CC (the star-cap argument of ``kernels._bucket_walk``), and ``max_k``
    bounds per-row edge emission exactly like the fused path.

    Id-only salt shuffle (round 6, guide §8): when blob transport is
    available and the input has at least ``_IVF_BLOB_MIN_ROWS`` rows,
    the salt shuffle ships ONLY
    (id, cell, salt, home) — the embedding payload moves exactly once
    into an executor-side blob (``blob.write_blob``; the edges are
    detached and the blob dropped before the call returns) and each
    group GATHERS its rows from the mmap'd shard pack
    (``blob.load_feats_rows(ref, "keyed")``). Round 5 shipped every embedding through
    the groupBy shuffle ``n_probe`` times for probes plus once per
    salt for the replicated home packs, then paid the Arrow list
    conversion per group — the dominant residual worker RSS at the 1M
    flagship. Gathered rows upcast to the exact values the Arrow path
    ships (dtype-preserving shards), so the emitted edges and scores
    are bit-identical either way (parity pinned in
    tests/test_review_r6.py).
    """
    from semhash_spark.operators.knn import ivf_probe_cells, train_centroids

    if n_rows is None:
        n_rows = feats.count()
    use_blob = (n_rows >= _IVF_BLOB_MIN_ROWS
                and blob.blob_transport_available(feats.sparkSession))
    if n_cells is None:
        # home size ~2k/cell keeps per-cell gemm ~0.5 GFLOP; the cap
        # keeps driver k-means training bounded (train_cap rows)
        n_cells = max(8, min(2048, int(n_rows) // 2048))
    cents = train_centroids(
        feats, n_cells, emb_col, train_cap=max(10_000, 4 * n_cells),
        seed=seed, id_col=id_col,
    )
    thr = float(threshold)
    cap = int(cell_cap)
    if group_cap is None:
        group_cap = _IVF_GROUP_CAP
    mk = max_k

    shuffle_cols = [id_col] if use_blob else [id_col, emb_col]
    ex = (
        feats.select(id_col, emb_col)
        .withColumn("_cells", ivf_probe_cells(emb_col, cents, n_probe))
        .select(
            *shuffle_cols,
            F.posexplode("_cells").alias("_pos", "_cell"),
        )
    )

    # Bound every applyInArrow group by construction. Cell population
    # under correlated embeddings is skewed (boilerplate mega-cells):
    # an unbounded groupBy(cell) group is materialized WHOLE in one
    # python worker (plus the JVM's group buffer), which is exactly
    # what OOM'd the 1M-row round-5 run. Salting: probes split into
    # ceil(cell_rows / group_cap) subgroups; the cell's home pack —
    # already capped to its cell_cap lowest ids, so <= ~20 MB —
    # replicates to every salt. Costs one extra pass of the probe-cell
    # UDF for the per-cell counts (vectorized gemm, seconds at 1M; at
    # real scale persist `ex` instead).
    cnt = ex.groupBy("_cell").agg(F.count(F.lit(1)).alias("_cnt"))
    cnt = cnt.withColumn(
        "_salts",
        F.greatest(
            F.lit(1), F.ceil(F.col("_cnt") / F.lit(float(group_cap)))
        ).cast("int"),
    ).select("_cell", "_salts")
    ex = ex.join(F.broadcast(cnt), "_cell")

    home_w = Window.partitionBy("_cell").orderBy(id_col)
    pack = (
        ex.filter(F.col("_pos") == 0)
        .withColumn("_rn", F.row_number().over(home_w))
        .filter(F.col("_rn") <= cap)
        .withColumn(
            "_salt", F.explode(F.sequence(F.lit(0), F.col("_salts") - 1))
        )
        .withColumn("_home", F.lit(True))
        .select(*shuffle_cols, "_cell", "_salt", "_home")
    )
    probes = (
        ex.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_salts")).cast("int"),
        )
        .withColumn("_home", F.lit(False))
        .select(*shuffle_cols, "_cell", "_salt", "_home")
    )
    grouped = pack.unionByName(probes)

    _schema = pa.schema([("a", pa.int64()), ("b", pa.int64()), ("score", pa.float64())])

    def _trim_arenas():
        # return the group's freed buffers to the OS between groups:
        # MALLOC_TRIM_THRESHOLD_ is pinned high (session.py) to stop
        # per-allocation mmap churn INSIDE the kernels, which makes
        # each worker retain its high-water (~0.5 GB after a mega-cell
        # group x 32 workers was most of the measured 21 GB worker
        # RSS at the 1M flagship). One malloc_trim per GROUP is
        # coarse enough to keep the anti-churn benefit.
        try:
            import ctypes

            ctypes.CDLL("libc.so.6").malloc_trim(0)
        except Exception:
            pass

    def scan(table):
        try:
            return pa.Table.from_batches(list(_scan_inner(table)), _schema)
        finally:
            _trim_arenas()

    def _scan_inner(table):
        if table.num_rows < 2:
            return
        ids = table[id_col].to_numpy().astype(np.int64, copy=False)
        home = table["_home"].to_numpy()
        if ref is not None:
            # id-only group: gather normalized rows from the blob pack
            ids_sorted, perm, rowsrc, nrm_rows = blob.load_feats_rows(ref, "keyed")
            rows, ok = _locate_rows(ids_sorted, perm, ids)
            if not ok.all():  # NULL-embedding ids are absent from the pack
                ids, home, rows = ids[ok], home[ok], rows[ok]
                if len(ids) < 2:
                    return
            xm = rowsrc[rows]
            xzero = nrm_rows[rows] <= 0
        else:
            xm, xn = _normalize_rows(list_matrix(table[emb_col])[0])
            xzero = xn <= 0
        h_idx = np.flatnonzero(home)
        # probe side = the non-pack rows only: every pack row's own
        # pos==0 probe instance arrives separately (_home=False), so
        # scanning the replicated pack copies as probes would just
        # redo identical pairs once per salt
        p_idx = np.flatnonzero(~home)
        if len(h_idx) == 0 or len(p_idx) == 0:
            return
        if len(h_idx) > cap:
            order = np.argsort(ids[h_idx], kind="stable")
            h_idx = h_idx[order[:cap]]
        hm = xm[h_idx]
        h_ids = ids[h_idx]
        h_blk = _build_blocks(hm)
        nz_h = np.linalg.norm(hm, axis=1) > 0
        p_ids = ids[p_idx]
        pm = xm[p_idx]
        p_zero = xzero[p_idx]
        for r, c, s in _chunked_threshold(
            p_ids, pm, p_zero, h_ids, hm, h_blk, nz_h, thr, mk,
            self_mode=False,
        ):
            a = p_ids[r]
            b = h_ids[c]
            ne = a != b
            if ne.any():
                a, b, s = a[ne], b[ne], s[ne]
                yield record_batch(
                    {"a": np.minimum(a, b), "b": np.maximum(a, b), "score": s})

    # written last, so no earlier planning step can strand it
    ref = (
        blob.write_blob(feats.select(id_col, emb_col), id_col, emb_col, "ivfrows")
        if use_blob
        else None
    )
    edges = grouped.groupBy("_cell", "_salt").applyInArrow(
        scan, "a long, b long, score double"
    ).distinct()
    return blob.detach(edges, ref) if use_blob else edges


# below this many rows the fused self-scan keeps the input's own
# partitioning; at or above it the query side is range-split into
# 4x-parallelism tasks so the scheduler can interleave the long
# low-id tasks (which scan nearly the full index width under the
# sorted-id tile skip) with the short high-id ones — without the
# split, the per-task wall eats back most of the skip's halving
# (measured: max worker 5.2 s vs median 3.4 s at 100k x 100k)
_SCAN_SPLIT_MIN_ROWS = 50_000


def cosine_threshold_edges(
    feats: DataFrame,
    threshold: float,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    max_k: int | None = None,
    n_rows: int | None = None,
    ref: dict | None = None,
) -> DataFrame:
    """All pairs (a < b, score) with cosine >= threshold — fused
    candidate generation + verification via broadcast matmul.
    ``max_k`` caps each row's emitted neighbors (reference
    query_threshold cap; see ``kernels._cap_rows_sparse``).

    ``ref``: the ``blob.write_blob`` blob of ``feats`` when its owner (a
    fitted ``SparkSemHash``) already wrote one; the returned frame then
    reads it and the owner detaches it. Without ``ref`` the call writes
    its own blob and returns the edges detached (``blob.detach``), the
    blob already dropped.

    The embedding table reaches the executors as a blob (a distributed
    write, NO driver collect/re-ship) whose pack each host's python
    workers build once (``blob.load_feats_rows(ref, "scan")``); each
    partition of rows runs the tiled f32 scan with an exact f64 rescore
    (``kernels._chunked_threshold``) and emits only the passing pairs — no
    |n|^2 pair materialization, no Arrow shipping of arrays per pair. The right plan whenever the matrix fits
    executor memory (64-dim floats: 2M rows ~ 1 GB); above that, use
    LSH candidates + verify_cosine. Zero-norm rows never pair
    (NULL-cosine semantics).
    """
    own = None if ref is not None else blob.write_blob(
        feats.select(id_col, emb_col), id_col, emb_col, "cosedges")
    out = _fused_edges(scan_rows(feats, id_col, emb_col, n_rows), ref or own,
                       threshold, max_k, True, id_col, emb_col, ("a", "b"))
    return blob.detach(out, own) if own else out


def _fused_edges(query: DataFrame, ref: dict, threshold: float, max_k: int | None,
                 self_mode: bool, id_col: str, emb_col: str, names) -> DataFrame:
    """The fused scan's ``mapInArrow``: each (id, embedding) batch of
    ``query`` runs ``kernels._chunked_threshold`` against the scan pack of
    ``ref`` and emits (names[0], names[1], score) rows."""
    thr = float(threshold)
    q_col, i_col = names

    def edges(batches):
        ids_i, matn, nz_i, blocks = blob.load_feats_rows(ref, "scan")
        for rb in batches:
            batch = normalized_batch(rb, id_col, emb_col) if len(ids_i) else None
            if batch is None:
                continue
            q_ids, qm, qz = batch
            for r_g, c, sc in _chunked_threshold(
                q_ids, qm, qz, ids_i, matn, blocks, nz_i, thr, max_k, self_mode,
            ):
                yield record_batch(
                    {q_col: q_ids[r_g], i_col: ids_i[c], "score": sc})

    return query.mapInArrow(edges, f"{q_col} long, {i_col} long, score double")


def scan_rows(feats: DataFrame, id_col: str, emb_col: str,
              n_rows: int | None) -> DataFrame:
    """The (id, embedding) rows a fused self scan streams. At
    ``_SCAN_SPLIT_MIN_ROWS`` and above they are range-split into
    finer tasks; the split keeps each task's ids contiguous, so the
    tile skip of ``_chunked_threshold`` stays fully effective."""
    q = feats.select(id_col, emb_col)
    if n_rows is not None and n_rows >= _SCAN_SPLIT_MIN_ROWS:
        spark = feats.sparkSession
        n_split = 4 * max(spark.sparkContext.defaultParallelism, 8)
        q = q.repartitionByRange(n_split, F.col(id_col))
    return q


def cosine_cross_threshold_edges(
    query_feats: DataFrame,
    index_feats: DataFrame,
    threshold: float,
    id_col: str = "record_id",
    emb_col: str = "embedding",
    ref: dict | None = None,
    max_k: int | None = None,
) -> DataFrame:
    """All cross pairs (query_id, index_id, score >= threshold) —
    fused candidate generation + verification for the CROSS shape.
    ``max_k`` caps each query row's emitted matches (reference
    query_threshold cap; cross dedup is existential, so selected/
    filtered are unchanged — only the pairs detail truncates).

    The INDEX embeddings are written as an executor-side blob
    (distributed parquet write, mmap'd scan pack per host) and
    the QUERY side streams through ``mapInArrow``: each Arrow batch
    computes one |batch| x |index| matmul and emits only the passing
    pairs. This is exactly the reference benchmark shape (a 4.3k-row
    test split scored against a 1.8M-row fitted index,
    benchmarks/README.md:43-61): the index pays one blob build per
    fit, every query batch pays only its own matmul — no shuffle of
    the index, no |Q| x |I| pair materialization, no cartesian in the
    plan. Right whenever the index matrix fits executor memory
    (VERIFY_BROADCAST_CAP rows / _MAX_BYTES); above that, hyperplane
    LSH candidates + verify_cosine (operators/dedup.py:deduplicate).
    Zero-norm / NULL rows on either side never pair (NULL-cosine
    semantics, matching ``cosine_similarity``).

    ``ref``: the index side's blob when its owner already wrote one —
    the fitted api keeps one per fit so REPEATED query batches (the
    reference's dedup-only benchmark split) skip the blob write and pay
    only their own matmul; the owner detaches the returned frame.
    Without it, the call writes, detaches and drops its own blob, as
    ``cosine_threshold_edges`` does.
    """
    own = None if ref is not None else blob.write_blob(
        index_feats.select(id_col, emb_col), id_col, emb_col, "crossedges")
    out = _fused_edges(query_feats.select(id_col, emb_col), ref or own, threshold,
                       max_k, False, id_col, emb_col, ("query_id", "index_id"))
    return blob.detach(out, own) if own else out


def verify_cosine(
    pairs: DataFrame,
    feats: DataFrame,
    feat_col: str = "embedding",
    id_col: str = "record_id",
    threshold: float | None = None,
    left: str = "a",
    right: str = "b",
    strategy: str = "auto",
) -> DataFrame:
    """Score pairs with exact cosine similarity of embeddings.

    ``auto``: when blob transport is available and the feature table
    fits the executor byte cap, candidate ids ship 16 bytes/pair
    through Arrow and score against the call's embedding blob — one
    vectorized gather + einsum per batch, detached before the blob is
    dropped. The join form scores with the vectorized Arrow UDF
    ``cosine_similarity`` too, but its two joins rehydrate and shuffle
    two embedding arrays per pair, where the blob form shuffles two
    ids per pair — the strategy split ``verify_jaccard`` has. ``join``
    forces the fallback (no blob dir on a cluster master, or
    oversized feature tables).
    """
    spark = pairs.sparkSession
    if strategy != "join" and blob.blob_transport_available(spark):
        _, nbytes = blob._feat_bytes(feats, feat_col)
        if strategy == "blob" or nbytes <= VERIFY_BROADCAST_MAX_BYTES:
            return _verify_cosine_blob(
                pairs, feats, feat_col, id_col, threshold, left, right
            )
    fa = feats.select(F.col(id_col).alias(left), F.col(feat_col).alias("_fa"))
    fb = feats.select(F.col(id_col).alias(right), F.col(feat_col).alias("_fb"))
    j = pairs.join(fa, left).join(fb, right)
    scored = j.withColumn("score", cosine_similarity("_fa", "_fb")).drop("_fa", "_fb")
    if threshold is not None:
        scored = scored.where(F.col("score") >= threshold)
    return scored


def _verify_cosine_blob(
    pairs: DataFrame,
    feats: DataFrame,
    feat_col: str,
    id_col: str,
    threshold: float | None,
    left: str,
    right: str,
) -> DataFrame:
    """Blob-transport exact-cosine scoring (see verify_cosine).

    Pairs whose ids are absent from ``feats`` drop (the join form's
    inner-join semantics); zero-norm sides never pass a threshold
    and score NULL without one (NULL-cosine semantics)."""
    ref = blob.write_blob(feats.select(id_col, feat_col), id_col, feat_col, "cosverify")
    thr = None if threshold is None else float(threshold)

    def score(batches):
        sorted_ids, perm, rows, nrm = blob.load_feats_rows(ref, "keyed")
        for batch in batches:
            if batch.num_rows == 0 or len(sorted_ids) == 0:
                continue
            a = batch[left].to_numpy().astype(np.int64, copy=False)
            b = batch[right].to_numpy().astype(np.int64, copy=False)
            ia, oka = _locate_rows(sorted_ids, perm, a)
            ib, okb = _locate_rows(sorted_ids, perm, b)
            ok = oka & okb
            if not ok.all():
                a, b, ia, ib = a[ok], b[ok], ia[ok], ib[ok]
            if len(a) == 0:
                continue
            num = np.einsum("ij,ij->i", rows.raw(ia), rows.raw(ib))
            den = nrm[ia] * nrm[ib]
            if thr is None:
                with np.errstate(divide="ignore", invalid="ignore"):
                    s = np.where(den > 0, num / den, np.nan)
                yield record_batch({left: a, right: b, "score": s})
            else:
                m = (den > 0) & (num >= thr * den)
                if m.any():
                    yield record_batch(
                        {left: a[m], right: b[m], "score": num[m] / den[m]})

    return blob.detach(pairs.select(left, right).mapInArrow(
        score, f"{left} long, {right} long, score double"), ref)

