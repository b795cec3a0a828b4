"""LSH banding: signature -> band table -> candidate pairs or edges.

Replaces the reference's in-memory ANN index query
(semhash/index.py:50-70) with a partitioned plan:

    signature array --posexplode bands--> (record_id, band_idx, band_hash)
    band table --one shuffle on (band_idx, band_hash), sorted by id-->
    streaming bucket generator (mapInArrow), either
      pairs-only: every bucket's pairs (a < b) --> distinct pairs
      verified:   every pair scored in-task against the mmap'd
                  (id, shingles) pack --> distinct edges (a, b, score)

Self-dedup minhash and the containment stage use the verified mode
(``verified_edges_self``): no candidate pair relation is shuffled,
sized or joined with shingle arrays, and the edges are collected
before the call returns, so the pack is removed with it. Simhash and
cosine LSH use pairs-only and verify downstream.

Skew: common-boilerplate buckets (license headers) are quadratic in
bucket size. Buckets with more than ``bucket_cap`` members switch
from all-pairs to STAR edges (every member -> the bucket's min-id
member): O(m) edges that preserve connectivity for truly-duplicate
mega-groups while bounding the generator's output. Only ids and band
hashes flow through the shuffle — content/signatures are pruned
before the explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BAND_COLS = ("band_idx", "band_hash")


def candidate_probability(s: float, bands: int, rows_per_band: int) -> float:
    """P(two records with Jaccard s share >= 1 band) = 1-(1-s^r)^b —
    the LSH S-curve (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4)."""
    return 1.0 - (1.0 - s**rows_per_band) ** bands


def optimal_bands(
    threshold: float,
    num_perm: int,
    fp_weight: float = 0.5,
    fn_weight: float = 0.5,
) -> tuple[int, int]:
    """Pick (bands, rows_per_band) with bands*rows == num_perm that
    minimizes the weighted false-positive + false-negative integrals
    of the S-curve around ``threshold`` (same construction as
    datasketch's public ``_optimal_param``; re-derived from the MMDS
    S-curve, no code shared).

    FP integral = ∫₀ᵗ P(s) ds (pairs below t that still collide →
    wasted verification); FN integral = ∫ₜ¹ (1 - P(s)) ds (pairs
    above t the banding misses → recall loss). At 100 TB the FP
    weight prices shuffle + verify compute; the FN weight prices
    recall, which the north rule bounds at 0.99 — so default weights
    are even but recall-critical jobs should raise ``fn_weight``.
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best = None
    steps = 200
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        fp = sum(
            candidate_probability(threshold * (i + 0.5) / steps, b, r)
            for i in range(steps)
        ) * threshold / steps
        fn = sum(
            1.0 - candidate_probability(
                threshold + (1.0 - threshold) * (i + 0.5) / steps, b, r
            )
            for i in range(steps)
        ) * (1.0 - threshold) / steps
        err = fp_weight * fp + fn_weight * fn
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def band_hash_array(
    sig_col: str, bands: int, rows_per_band: int | None = None
):
    """array<long> of the ``bands`` band hashes of a signature column
    (element b = the hash ``band_table`` emits at band_idx b).

    "let g = sig in ..." binding: the signature expression is
    evaluated once per row even if Catalyst inlines it here.
    The band hash is one xxhash64 over the band's signature values
    fetched by element_at — no per-band array slice allocation.
    """
    if rows_per_band is not None:
        tup = ", ".join(f"g[b * {rows_per_band} + {j}]" for j in range(rows_per_band))
        body = f"xxhash64({tup})"
    else:
        body = f"xxhash64(slice(g, b * (size(g) div {bands}) + 1, size(g) div {bands}))"
    return F.expr(
        f"""
        element_at(transform(array({sig_col}), g ->
          transform(sequence(0, {bands - 1}), b -> {body})), 1)
        """
    )


def band_table(
    df: DataFrame,
    sig_col: str,
    bands: int,
    id_col: str = "record_id",
    rows_per_band: int | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(record_id, band_idx, band_hash) — one row per band per record.

    ``band_hash = xxhash64(sig[b*rows], ..., sig[b*rows+rows-1])``
    hashes each row-group of the MinHash signature; for
    SimHash/hyperplane bands pass the band array column directly via
    ``explode_band_array``. Pass ``rows_per_band`` (num_perm//bands)
    for the element_at fast path; without it a generic slice form is
    used. ``keep`` carries extra columns through the explode (the
    stateful streaming matcher keeps the signature itself; the batch
    path keeps nothing — ids and hashes only in the shuffle).
    """
    sliced = band_hash_array(sig_col, bands, rows_per_band)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep],
        F.posexplode(sliced).alias("band_idx", "band_hash"),
    )


def explode_band_array(
    df: DataFrame, band_array_col: str, id_col: str = "record_id"
) -> DataFrame:
    return df.select(
        F.col(id_col), F.posexplode(F.col(band_array_col)).alias("band_idx", "band_hash")
    )


def _seg_ramp(lens):
    """[0..lens[0]-1, 0..lens[1]-1, ...] per-segment position index."""
    import numpy as np

    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offs = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(offs, lens)


# pairs scored per kernel call in verified mode: bounds each python
# worker's padded intersection matrix (pairs x widest pair) however
# many pairs a batch of buckets emits. On the 3,000-file benchmark
# (local[2], 4-core host) the python workers' peak PSS rose 124 MB
# over the join plan with 8,192-pair chunks, 39 MB with 2,048 and
# 26 MB with 512, at no measurable cost in pass time.
_SCORE_CHUNK = 2048
# emitted pairs a verified task gathers (16 bytes each) and
# de-duplicates before scoring: a pair sharing several bands is
# emitted once per band (6.2x repeats on the 3,000-file benchmark),
# and every band of a bucket key lands in the same task once AQE
# coalesces a small band shuffle
_DEDUP_PAIRS = 1 << 20


def _bucket_walk(batches, cap: int):
    """Each bucket's pairs as (a, b) int64 arrays (one yield per input
    batch that completes pairs), from Arrow record batches of
    (band_idx, band_hash, _id) sorted by (bucket key, id).

    All-pairs for buckets <= ``cap`` members, star edges (min-id ->
    member) above it. Memory is bounded by construction: ids arrive
    ascending within a bucket, so a bucket is buffered only up to
    ``cap`` ids — the moment it overflows, the buffer flushes as star
    edges (the first id IS the bucket min) and the rest of the bucket
    streams through without being held, however large it is (a
    10^9-member boilerplate bucket costs one task O(cap) memory). A
    bucket open at a batch boundary is carried into the next batch.
    """
    import numpy as np

    carry_key = None  # bucket key open at the last batch boundary
    carry_ids = None  # buffered ids of the open bucket (<= cap)
    star_min = None   # not None => the open bucket overflowed cap

    def bucket_pairs(ids_seg):
        """(a, b) arrays for ONE completed bucket (ascending ids)."""
        k = len(ids_seg)
        if k < 2:
            return None
        if k > cap:
            return np.repeat(ids_seg[0], k - 1), ids_seg[1:]
        rep = np.arange(k, dtype=np.int64)
        b = np.repeat(ids_seg, rep)
        a = ids_seg[_seg_ramp(rep)]
        return a, b

    def col(rb, name):
        return rb.column(name).to_numpy(zero_copy_only=False)

    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        bi = col(rb, "band_idx")
        bh = col(rb, "band_hash")
        ids = col(rb, "_id").astype(np.int64, copy=False)
        new_seg = np.empty(n, dtype=bool)
        new_seg[0] = True
        np.logical_or(bi[1:] != bi[:-1], bh[1:] != bh[:-1], out=new_seg[1:])
        seg_starts = np.flatnonzero(new_seg)
        n_seg = len(seg_starts)
        seg_ends = np.append(seg_starts[1:], n)
        out_a: list = []
        out_b: list = []
        s_first = 0
        first_key = (bi[0], bh[0])
        if carry_key is not None:
            if first_key == carry_key:
                seg0 = ids[: seg_ends[0]]
                open_at_end = n_seg == 1
                if star_min is not None:
                    out_a.append(np.repeat(star_min, len(seg0)))
                    out_b.append(seg0)
                else:
                    merged = np.concatenate([carry_ids, seg0])
                    if open_at_end and len(merged) <= cap:
                        carry_ids = merged
                        if out_a:
                            yield np.concatenate(out_a), np.concatenate(out_b)
                        continue
                    if len(merged) > cap:
                        # overflow: flush as star NOW (first id is
                        # the bucket min under the ascending sort)
                        # and stream the rest without buffering
                        star_min = merged[0]
                        out_a.append(np.repeat(star_min, len(merged) - 1))
                        out_b.append(merged[1:])
                        carry_ids = None
                        if open_at_end:
                            if out_a:
                                yield np.concatenate(out_a), np.concatenate(out_b)
                            continue
                    else:
                        p = bucket_pairs(merged)
                        if p is not None:
                            out_a.append(p[0])
                            out_b.append(p[1])
                if not open_at_end:
                    carry_key = None
                    carry_ids = None
                    star_min = None
                    s_first = 1
                else:
                    if out_a:
                        yield np.concatenate(out_a), np.concatenate(out_b)
                    continue
            else:
                # the carried bucket closed at the batch boundary
                if star_min is None and carry_ids is not None:
                    p = bucket_pairs(carry_ids)
                    if p is not None:
                        out_a.append(p[0])
                        out_b.append(p[1])
                carry_key = None
                carry_ids = None
                star_min = None

        # segments [s_first, n_seg - 1) are complete: vectorized
        # pair emission across all of them at once
        if n_seg - 1 > s_first:
            seg_len = seg_ends - seg_starts
            seg_id = np.cumsum(new_seg) - 1
            complete = np.zeros(n_seg, dtype=bool)
            complete[s_first : n_seg - 1] = True
            small = complete & (seg_len >= 2) & (seg_len <= cap)
            big = complete & (seg_len > cap)
            f_elem = seg_starts[seg_id]
            local = np.arange(n, dtype=np.int64) - f_elem
            if small.any():
                sel = small[seg_id]
                rep = local[sel]
                b_s = np.repeat(ids[sel], rep)
                base = np.repeat(f_elem[sel], rep)
                a_s = ids[base + _seg_ramp(rep)]
                out_a.append(a_s)
                out_b.append(b_s)
            if big.any():
                m = big[seg_id] & (local > 0)
                out_a.append(ids[f_elem[m]])
                out_b.append(ids[m])

        # the batch's last segment becomes (or stays) the carry
        last = ids[seg_starts[-1] :]
        carry_key = (bi[-1], bh[-1])
        if len(last) > cap:
            star_min = last[0]
            out_a.append(np.repeat(star_min, len(last) - 1))
            out_b.append(last[1:])
            carry_ids = None
        else:
            star_min = None
            carry_ids = last.copy()
        if out_a:
            yield np.concatenate(out_a), np.concatenate(out_b)

    if carry_key is not None and star_min is None and carry_ids is not None:
        p = bucket_pairs(carry_ids)
        if p is not None:
            yield p


def candidate_pairs_self(
    bands_df: DataFrame,
    bucket_cap: int = 1000,
    id_col: str = "record_id",
    persisted: list | None = None,
    pack: dict | None = None,
    metric: str = "jaccard",
    threshold: float | None = None,
) -> DataFrame:
    """Distinct candidate pairs (a < b) from a band table — or, with
    ``pack``, the distinct verified edges (a, b, score) among them.

    Small buckets -> all pairs; oversized buckets -> star edges to
    the bucket min-id (skew guard, see module docstring).

    Plan: the band table (ids and hashes only) is hash-repartitioned
    on the bucket key — the one shuffle — and locally sorted by
    (bucket key, id); a streaming ``mapInArrow`` generator walks the
    buckets (``_bucket_walk``) and emits each bucket's pairs directly.

    * pairs-only (``pack=None``; the simhash and cosine-LSH callers):
      the emitted (a, b) pairs, then ``distinct`` collapses the
      repeats of a pair that shares several bands.
    * verified (``pack`` = a ``verify.write_blob`` ref of the
      call's (id, shingles) table; ``verified_edges_self`` owns the
      blob around this plan): every task mmaps the pack
      (``load_feats_segments``) and scores each emitted pair in
      ``_SCORE_CHUNK``-pair chunks — after dropping the repeats among
      up to ``_DEDUP_PAIRS`` gathered pairs — with exact float64 ``metric``
      ("jaccard", with the ``J >= t => min >= t * max`` size prune,
      or "containment"; ``verify.score_set_pairs``), keeping only
      edges >= ``threshold``. No pair relation is ever shuffled,
      sized or joined against the shingle arrays; the only
      ``distinct`` is on the small edge set. The scores are
      bit-identical to candidates -> ``verify_jaccard`` /
      ``verify_containment``.

    ``persisted`` is kept for call-site compatibility; this form
    caches nothing (the band table is consumed exactly once).
    """
    cap = int(bucket_cap)
    st = (
        bands_df.select(*BAND_COLS, F.col(id_col).alias("_id"))
        .repartition(*[F.col(c) for c in BAND_COLS])
        .sortWithinPartitions(*BAND_COLS, "_id")
    )

    if pack is None:
        def gen(batches):
            import pyarrow as pa

            for a, b in _bucket_walk(batches, cap):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a), pa.array(b)], names=["a", "b"])

        return st.mapInArrow(gen, "a long, b long").distinct()

    if metric not in ("jaccard", "containment"):
        raise ValueError(f"unknown set metric {metric!r}")

    def verified(batches):
        import numpy as np
        import pyarrow as pa

        from semhash_spark.operators.verify import load_feats_segments, score_set_pairs

        feats = load_feats_segments(pack)

        def score(pend):
            a = np.concatenate([p[0] for p in pend])
            b = np.concatenate([p[1] for p in pend])
            order = np.lexsort((b, a))
            a, b = a[order], b[order]
            first = np.ones(len(a), dtype=bool)
            np.logical_or(a[1:] != a[:-1], b[1:] != b[:-1], out=first[1:])
            a, b = a[first], b[first]
            out = [
                score_set_pairs(feats, a[i : i + _SCORE_CHUNK],
                                b[i : i + _SCORE_CHUNK], threshold, metric)
                for i in range(0, len(a), _SCORE_CHUNK)
            ]
            if sum(len(o[0]) for o in out):
                return pa.RecordBatch.from_arrays(
                    [pa.array(np.concatenate([o[k] for o in out])) for k in range(3)],
                    names=["a", "b", "score"])
            return None

        pend: list = []
        n_pend = 0
        for a, b in _bucket_walk(batches, cap):
            pend.append((a, b))
            n_pend += len(a)
            if n_pend >= _DEDUP_PAIRS:
                rb = score(pend)
                pend, n_pend = [], 0
                if rb is not None:
                    yield rb
        if pend:
            rb = score(pend)
            if rb is not None:
                yield rb

    return st.mapInArrow(verified, "a long, b long, score double").distinct()


def verified_edges_self(
    bands_df: DataFrame,
    sets_df: DataFrame,
    bucket_cap: int,
    id_col: str,
    metric: str,
    threshold: float,
    name_prefix: str,
) -> DataFrame | None:
    """The distinct verified edges (a, b, score >= ``threshold``) of a
    band table, computed now: writes the (id, shingles) blob of
    ``sets_df`` (``verify.write_blob``), runs the verified
    ``candidate_pairs_self`` and detaches its edges before the blob
    is dropped (``verify.detach``: a driver-held frame up to
    ``DRIVER_CC_CAP`` edges, an eager local checkpoint above), so the
    returned frame never reads it. None when the blob cannot serve
    the call (no transport, or above ``VERIFY_BROADCAST_MAX_BYTES``):
    the caller keeps the candidates -> join-verify plan."""
    from semhash_spark.operators import verify

    if not verify.blob_transport_available(sets_df.sparkSession):
        return None
    ref = verify.write_blob(sets_df.select(id_col, "shingles"), id_col, "shingles",
                            name_prefix, max_bytes=verify.VERIFY_BROADCAST_MAX_BYTES)
    if ref is None:
        return None
    return verify.detach(candidate_pairs_self(
        bands_df, bucket_cap, id_col, pack=ref, metric=metric, threshold=threshold), ref)


def thin_index_bands(
    index_bands: DataFrame, bucket_cap: int, id_col: str = "record_id",
    broadcast_big: bool = False,
) -> DataFrame:
    """Consistent-hash thinning of oversized index-side buckets (the
    cross-dedup skew guard — see ``candidate_pairs_cross``). Pure
    function of (band table, cap): a fitted index can thin ONCE at
    prepare time and reuse the result for every query batch — round 5
    re-ran this full-index aggregation inside every ``deduplicate``
    call (the dominant dedup-only cost at the 4.3k-vs-1.8M reference
    shape). Keep-rate comparison in DOUBLES: pmod/2^31 (uniform
    [0,1)) vs cap/bucket_n — no integer product, so the predicate
    cannot overflow however large bucket_n grows (ADVICE r3: the
    earlier pmod * bucket_n form wrapped negative past bucket_n ~
    4.29e9, silently disabling thinning on exactly the mega-buckets
    the cap exists to protect against)."""
    big = (
        index_bands.groupBy(*BAND_COLS)
        .agg(F.count("*").alias("bucket_n"))
        .where(F.col("bucket_n") > bucket_cap)
    )
    if broadcast_big:
        # the oversized-bucket list is arithmetically bounded at
        # <= band_rows / cap entries (each needs > cap members), so a
        # caller that KNOWS band_rows can assert broadcastability and
        # skip the SortMergeJoin the planner otherwise picks (no
        # stats on an aggregate: the annotate join re-shuffled the
        # whole band table, measured +5 s on corpus_fit at 100k).
        # Callers without the bound keep the no-hint form — AQE
        # converts at runtime when small, and a pathological count of
        # oversized buckets degrades to a shuffle join, never an OOM.
        big = F.broadcast(big)
    scale = 1 << 31
    return index_bands.join(big, list(BAND_COLS), "left").where(
        F.col("bucket_n").isNull()
        | (
            F.pmod(F.xxhash64(id_col), F.lit(scale)).cast("double")
            / F.lit(float(scale))
            < F.lit(float(bucket_cap)) / F.col("bucket_n").cast("double")
        )
    ).drop("bucket_n")


def candidate_pairs_cross(
    query_bands: DataFrame,
    index_bands: DataFrame,
    id_col: str = "record_id",
    broadcast_query: bool = False,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Distinct (query_id, index_id) candidate pairs across two sets.

    ``broadcast_query=True`` for the reference benchmark shape
    (small test set vs huge fitted index) — ships the query band
    table to every executor, no shuffle of the index side.

    ``bucket_cap`` bounds skew (VERDICT r2 #2): a boilerplate band
    hash present on BOTH sides would otherwise emit
    |Q_bucket| x |I_bucket| pairs — exactly the flood the self path
    star-caps. Here the INDEX side of each oversized bucket is
    THINNED to ~``bucket_cap`` members by CONSISTENT hash sampling:
    keep iff ``pmod(xxhash64(index_id), 2^31) * bucket_n <
    cap * 2^31`` (rate cap/bucket_n on a hash of the id ALONE, so the
    survivor sets of different oversized buckets are nested — the
    distinct pair relation stays ~|Q| * cap instead of
    |Q| * cap * bands if each band sampled independently). A pure
    map-side filter after an annotate join: NO per-bucket sort/window
    anywhere, so a 10^9-member boilerplate bucket never lands in one
    task (a row_number top-cap would). The QUERY side is never
    capped: every query record keeps its chance to match (existential
    cross-dedup semantics), and a true near-dup's content-driven
    bands still co-bucket it with its index partner — same recall
    argument as the self-path star cap, asserted by the
    planted-boilerplate stress test in tests/test_skew.py. Buckets
    <= cap are untouched. The oversized-bucket list is usually tiny
    (AQE broadcasts it); no hint is forced so a pathological count of
    oversized buckets degrades to a same-key shuffle join, never an
    executor OOM.
    """
    q = query_bands.select(*BAND_COLS, F.col(id_col).alias("query_id"))
    i = index_bands.select(*BAND_COLS, F.col(id_col).alias("index_id"))
    if bucket_cap is not None:
        i = thin_index_bands(i, bucket_cap, "index_id")
    if broadcast_query:
        q = F.broadcast(q)
    return q.join(i, list(BAND_COLS)).select("query_id", "index_id").distinct()
