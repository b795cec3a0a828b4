"""Round-6 optimization invariants.

The fused cosine scan was re-tiled in round 6 (blocked f32 gemm +
sorted-id tile skip + f32 prefilter before the f64 rescore,
operators/verify.py:_chunked_threshold). These tests pin the
optimization to the brute-force f64 semantics: the emitted edge set,
the bit-exact f64 scores, and the per-row cap must be IDENTICAL to a
naive full-matrix evaluation for every code path the kernel has —
multi-tile inputs, unsorted index ids (skip disabled), oversized rows
(prefilter active), cross mode, and thr <= 0 zero-norm masking.
"""

from __future__ import annotations

import numpy as np

import semhash_spark.operators.verify as V


def _mk(n, dim, seed, clique=0, zero_rows=()):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim))
    if clique:
        base = rng.standard_normal(dim)
        m[:clique] = base + 0.03 * rng.standard_normal((clique, dim))
    for z in zero_rows:
        m[z] = 0.0
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    matn = np.divide(m, nrm, out=np.zeros_like(m), where=nrm > 0)
    return matn, nrm.ravel() > 0


def _brute(q_ids, qm, qz, ids_i, matn, nz_i, thr, max_k, self_mode):
    """Naive f64 reference: all pairs scored with the SAME einsum op
    the kernel's rescore uses (a dgemm sums in a different order and
    can differ in the last ulp), threshold, per-row cap by
    (score desc, id asc)."""
    out = []
    nj = len(ids_i)
    for i in range(len(q_ids)):
        if thr <= 0 and qz[i]:
            continue
        s_row = np.einsum(
            "ij,ij->i", np.broadcast_to(qm[i], (nj, qm.shape[1])), matn
        )
        cand = []
        for j in range(nj):
            if self_mode and not q_ids[i] < ids_i[j]:
                continue
            if thr <= 0 and not nz_i[j]:
                continue
            if s_row[j] >= thr:
                cand.append((j, s_row[j]))
        if max_k is not None and len(cand) > max_k:
            cand.sort(key=lambda t: (-t[1], ids_i[t[0]]))
            cand = cand[:max_k]
        for j, sc in cand:
            out.append((int(q_ids[i]), int(ids_i[j]), float(sc)))
    return sorted(out)


def _run(q_ids, qm, qz, ids_i, matn, nz_i, thr, max_k, self_mode,
         row_step=64):
    blocks = V._build_blocks(matn)
    got = []
    for r, c, s in V._chunked_threshold(
            q_ids, qm, qz, ids_i, matn, blocks, nz_i, thr, max_k,
            self_mode=self_mode, row_step=row_step):
        got.extend(zip(q_ids[r].tolist(), ids_i[c].tolist(), s.tolist()))
    return sorted(got)


def test_tiled_kernel_matches_bruteforce_multitile():
    """> _BLK_W index rows => multiple tiles, including a padded tail."""
    n = V._BLK_W + 700
    matn, nz = _mk(n, 8, 3)
    ids = np.arange(n, dtype=np.int64) * 2 + 1  # sorted, non-contiguous
    q_sel = np.arange(0, n, 97)
    got = _run(ids[q_sel], matn[q_sel], ~nz[q_sel], ids, matn, nz,
               0.6, None, self_mode=True)
    want = _brute(ids[q_sel], matn[q_sel], ~nz[q_sel], ids, matn, nz,
                  0.6, None, self_mode=True)
    assert got == want and len(got) > 0


def test_tiled_kernel_unsorted_ids_no_skip():
    """Unsorted index ids disable the tile skip; results unchanged."""
    matn, nz = _mk(300, 16, 5)
    ids = np.arange(300, dtype=np.int64)
    rng = np.random.default_rng(0)
    perm = rng.permutation(300)
    got = _run(ids, matn, ~nz, ids[perm], matn[perm], nz[perm],
               0.5, None, self_mode=True)
    want = _brute(ids, matn, ~nz, ids[perm], matn[perm], nz[perm],
                  0.5, None, self_mode=True)
    assert got == want and len(got) > 0


def test_tiled_kernel_prefilter_cap_exact():
    """A clique far larger than max_k exercises the f32 prefilter;
    the capped edge set and f64 scores must equal brute force."""
    matn, nz = _mk(400, 12, 9, clique=250)
    ids = np.arange(400, dtype=np.int64)
    for max_k in (5, 40):
        got = _run(ids, matn, ~nz, ids, matn, nz, 0.7, max_k,
                   self_mode=True)
        want = _brute(ids, matn, ~nz, ids, matn, nz, 0.7, max_k,
                      self_mode=True)
        assert got == want
        assert len(got) > 250  # the clique actually paired and capped


def test_tiled_kernel_cross_and_zero_threshold():
    matn, nz = _mk(150, 10, 13, zero_rows=(4, 77))
    q, qnz = _mk(60, 10, 14, zero_rows=(8,))
    ids = np.arange(150, dtype=np.int64)
    q_ids = np.arange(1000, 1060, dtype=np.int64)
    got = _run(q_ids, q, ~qnz, ids, matn, nz, -0.2, 9, self_mode=False)
    want = _brute(q_ids, q, ~qnz, ids, matn, nz, -0.2, 9, self_mode=False)
    assert got == want and len(got) > 0


def test_blocked_pack_matches_normalized_loader(spark, tmp_path):
    """The fused-scan pack (``load_feats_rows(ref, "scan")``) must
    reproduce the whole-blob normalized matrix bit-for-bit: same ids
    (parquet part order), same f64 normalized rows, same nz mask, and
    block tiles equal to matn.T.astype(f32). The reference is the
    whole-blob loader's arithmetic in numpy: every part read at once,
    upcast to f64, row norms, divide where the norm is positive."""
    import glob
    import os

    import pyarrow.parquet as pq
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(21)
    n = 500
    emb = [rng.standard_normal(16).astype(np.float32).tolist() for _ in range(n)]
    emb[7] = None  # NULL row: dropped by both packs
    emb[12] = [0.0] * 16  # zero-norm row: kept, nz False
    df = spark.createDataFrame(
        pd.DataFrame({"record_id": np.arange(n), "embedding": emb}),
        schema="record_id long, embedding array<float>",
    ).repartition(7, F.col("record_id"))
    ref = V.write_blob(df, "record_id", "embedding", "t_blk")

    tbl = pq.read_table(sorted(glob.glob(os.path.join(ref["path"], "*.parquet"))))
    tbl = tbl.filter(tbl.column("embedding").is_valid())
    ids_a = tbl.column("record_id").to_numpy()
    mat = tbl.column("embedding").combine_chunks().flatten().to_numpy()
    mat = mat.astype(np.float64, copy=False).reshape(len(ids_a), -1)
    nrm = np.linalg.norm(mat, axis=1)
    matn_a = np.divide(mat, nrm[:, None], out=np.zeros_like(mat), where=nrm[:, None] > 0)
    nz_a = nrm > 0
    assert len(ids_a) == n - 1 and not nz_a[ids_a == 12].any()

    ids_b, rows_b, nz_b, blocks = V.load_feats_rows(ref, "scan")
    assert np.array_equal(ids_a, ids_b)
    # the blocked pack serves rows lazily (_ShardRows): gathering every
    # row must reproduce the whole-blob normalized matrix bit-for-bit,
    # in order, in duplicate, and in arbitrary permutation
    full = rows_b[np.arange(len(ids_b))]
    assert np.array_equal(np.asarray(matn_a), full)
    rng2 = np.random.default_rng(5)
    sel = rng2.integers(0, len(ids_b), size=777)
    assert np.array_equal(np.asarray(matn_a)[sel], rows_b[sel])
    assert np.array_equal(np.asarray(nz_a), np.asarray(nz_b))
    flat = np.concatenate(
        [np.asarray(blocks[b]) for b in range(blocks.shape[0])], axis=1
    )[:, : len(ids_b)]
    assert np.array_equal(flat, full.T.astype(np.float32))
    # the top-k pack finalizes the same shards into the f64 transposed
    # matrix the whole-blob loader built
    ids_t, mnT, nz_t = V.load_feats_rows(ref, "topk")
    assert np.array_equal(ids_t, ids_a) and np.array_equal(nz_t, nz_a)
    assert np.array_equal(np.asarray(mnT), matn_a.T)
    V.drop_blob(ref)


def _relational_pairs(spark, rows, cap):
    """The round-5 relational candidate plan, inlined as the parity
    reference: sizes agg + annotate + small self-join / big star."""
    from pyspark.sql import functions as F

    bands = spark.createDataFrame(
        rows, "record_id long, band_idx int, band_hash long")
    sizes = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count("*").alias("n"), F.min("record_id").alias("mn"))
        .where(F.col("n") > 1)
    )
    ann = bands.join(sizes, ["band_idx", "band_hash"])
    small = ann.where(F.col("n") <= cap)
    a = small.select("band_idx", "band_hash", F.col("record_id").alias("a"))
    b = small.select("band_idx", "band_hash", F.col("record_id").alias("b"))
    ps = a.join(b, ["band_idx", "band_hash"]).where(F.col("a") < F.col("b"))
    pb = (ann.where(F.col("n") > cap)
          .where(F.col("record_id") != F.col("mn"))
          .select(F.col("mn").alias("a"), F.col("record_id").alias("b")))
    return {(r.a, r.b) for r in
            ps.select("a", "b").union(pb).distinct().collect()}


def test_streaming_candidate_pairs_match_relational(spark):
    """The round-6 one-shuffle streaming candidate generator must emit
    the exact pair set of the round-5 relational plan on a skewed
    band table — including buckets far above the star cap and buckets
    spanning Arrow batch boundaries (forced tiny batches)."""
    import itertools

    from semhash_spark.operators.lsh import candidate_pairs_self

    rng = np.random.default_rng(3)
    rows = []
    # bucket sizes: singletons, small, cap-boundary, mega (star)
    bucket_sizes = [1] * 50 + [2] * 20 + [5] * 10 + [19, 20, 21, 300, 777]
    rid = itertools.count()
    for bidx, size in enumerate(bucket_sizes):
        h = int(rng.integers(1 << 40))
        for _ in range(size):
            rows.append((next(rid), bidx % 4, h))
    # records in several buckets + shared hashes across band_idx
    for i in range(0, 200, 7):
        rows.append((i, 3, 12345))
    rng.shuffle(rows)

    bands = spark.createDataFrame(
        rows, "record_id long, band_idx int, band_hash long")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    for cap, batch in ((20, "64"), (20, "50000"), (3, "64")):
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch)
        try:
            got = {(r.a, r.b) for r in
                   candidate_pairs_self(bands, cap, "record_id").collect()}
        finally:
            spark.conf.set(
                "spark.sql.execution.arrow.maxRecordsPerBatch", old)
        want = _relational_pairs(spark, rows, cap)
        assert got == want and len(got) > 500, (cap, batch, len(got), len(want))


def test_ivf_payload_blob_matches_arrow_shuffle(spark, monkeypatch):
    """The IVF id-only plan (forced by ``_IVF_BLOB_MIN_ROWS=0``: ids through the salt
    shuffle, embeddings gathered from the executor blob) must emit
    the IDENTICAL edge set and bit-exact scores as the round-5
    payload-shuffle plan, for f32 AND f64 embedding columns, with a
    zero-norm row present, under forced salting. (NULL embeddings are
    not an IVF input in either plan: train_centroids rejects them, and
    featurize never emits one.)"""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n = 800
    base = rng.standard_normal((n, 12))
    base[:60] = base[0] + 0.02 * rng.standard_normal((60, 12))  # clique
    for dtype, sqltype in ((np.float32, "float"), (np.float64, "double")):
        emb = [base[i].astype(dtype).tolist() for i in range(n)]
        emb[9] = [0.0] * 12
        df = spark.createDataFrame(
            pd.DataFrame({"record_id": np.arange(n), "embedding": emb}),
            schema=f"record_id long, embedding array<{sqltype}>",
        ).repartition(5, F.col("record_id")).persist()
        df.count()
        kw = dict(n_cells=8, n_probe=2, cell_cap=50, max_k=20,
                  n_rows=n, group_cap=64)
        monkeypatch.setattr(V, "_IVF_BLOB_MIN_ROWS", float("inf"))
        a = V.cosine_threshold_edges_ivf(
            df, 0.8, "record_id", "embedding", **kw
        ).collect()
        monkeypatch.setattr(V, "_IVF_BLOB_MIN_ROWS", 0)
        b = V.cosine_threshold_edges_ivf(
            df, 0.8, "record_id", "embedding", **kw
        ).collect()
        sa = sorted((r.a, r.b, r.score) for r in a)
        sb = sorted((r.a, r.b, r.score) for r in b)
        assert sa == sb and len(sa) > 50, (dtype, len(sa), len(sb))
        df.unpersist()
