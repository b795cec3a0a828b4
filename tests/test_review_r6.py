"""Round-6 optimization invariants.

The fused cosine scan was re-tiled in round 6 (blocked f32 gemm +
sorted-id tile skip + f32 prefilter before the f64 rescore,
``kernels._chunked_threshold``); its brute-force parity tests run
without Spark in tests/test_kernels.py. These tests pin the Spark side
of the same round: the blocked scan pack against the whole-blob
normalized matrix, the one-shuffle streaming candidate generator
against the relational plan, and the IVF id-only plan against the
payload shuffle.
"""

from __future__ import annotations

import numpy as np

import semhash_spark.operators.verify as V
from semhash_spark import blob


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
    ref = blob.write_blob(df, "record_id", "embedding", "t_blk")

    tbl = pq.read_table(sorted(glob.glob(os.path.join(ref["path"], "*.parquet"))))
    tbl = tbl.filter(tbl.column("embedding").is_valid())
    ids_a = tbl.column("record_id").to_numpy()
    mat = tbl.column("embedding").combine_chunks().flatten().to_numpy()
    mat = mat.astype(np.float64, copy=False).reshape(len(ids_a), -1)
    nrm = np.linalg.norm(mat, axis=1)
    matn_a = np.divide(mat, nrm[:, None], out=np.zeros_like(mat), where=nrm[:, None] > 0)
    nz_a = nrm > 0
    assert len(ids_a) == n - 1 and not nz_a[ids_a == 12].any()

    ids_b, rows_b, nz_b, blocks = blob.load_feats_rows(ref, "scan")
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
    ids_t, mnT, nz_t = blob.load_feats_rows(ref, "topk")
    assert np.array_equal(ids_t, ids_a) and np.array_equal(nz_t, nz_a)
    assert np.array_equal(np.asarray(mnT), matn_a.T)
    blob.drop_blob(ref)


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
