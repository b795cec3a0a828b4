"""Verification kernels: strategy parity and exactness.

Both Jaccard strategies (broadcast numpy blob vs JVM join) must
produce identical scores — integer intersection counts divided in
float64 are bit-identical across engines, which is what keeps the
DuckDB oracle comparisons exact.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from semhash_spark.operators.verify import (
    containment_score,
    jaccard_similarity,
    verify_jaccard,
)


def test_sharded_pack_built_once_and_reused(spark):
    """The executor-side shard pack must be written once and
    re-mmapped by later workers (a fresh process cache must NOT
    rebuild it), and the sharded layout must reconstruct every
    original row."""
    import os

    from semhash_spark import blob

    feats = spark.createDataFrame(
        [(i, list(range(i % 5 + 1))) for i in range(50)],
        "record_id long, shingles array<long>",
    ).repartition(3)  # multiple parquet parts -> multiple shards
    import tempfile

    ref = blob.write_blob(feats, "record_id", "shingles", "packtest")
    out1 = blob.load_feats_segments(ref)
    root = os.path.join(tempfile.gettempdir(), "semhash_packed", ref["tag"])
    packed = sorted(f for f in os.listdir(root) if f.endswith(".npy"))
    shard_files = [f for f in packed if f.startswith("_shard_seg")]
    final_files = [f for f in packed if f.startswith("_final_seg")]
    assert len(final_files) == 5  # ids_sorted, perm, row_shard, row_off, row_len
    assert len(shard_files) >= 3  # >=1 part x 3 arrays
    assert os.path.exists(os.path.join(root, "_final_seg.done"))
    mtimes = [os.path.getmtime(os.path.join(root, f)) for f in packed]
    blob._BLOB_CACHE.pop(("seg", "seg", ref["tag"]), None)  # fresh worker simulation
    out2 = blob.load_feats_segments(ref)
    for a, b in zip(out1[:5], out2[:5]):
        assert np.array_equal(np.asarray(a), np.asarray(b))
    assert mtimes == [os.path.getmtime(os.path.join(root, f)) for f in packed]

    # sorted ids + permutation + shard map reconstruct each original row
    ids_sorted, perm, row_shard, row_off, row_len, flats = out1
    rows = {int(r.record_id): list(r.shingles) for r in feats.collect()}
    assert sorted(np.asarray(ids_sorted).tolist()) == sorted(rows)
    for i, rid in enumerate(np.asarray(ids_sorted)):
        row = int(perm[i])
        s0 = int(row_shard[row]); o0 = int(row_off[row]); l0 = int(row_len[row])
        got = np.asarray(flats[s0][o0:o0 + l0]).tolist()
        assert got == rows[int(rid)], rid
    blob.drop_blob(ref)


def _feats(spark, n=60, seed=3):
    rng = np.random.default_rng(seed)
    shared = rng.integers(-2**62, 2**62, 40).tolist()
    rows = []
    for i in range(n):
        own = rng.integers(-2**62, 2**62, 20).tolist()
        rows.append((i, shared + own if i % 2 == 0 else own + shared[:10]))
    return spark.createDataFrame(rows, "record_id long, shingles array<long>")


def test_verify_strategies_bit_identical(spark):
    feats = _feats(spark)
    ids = feats.select("record_id")
    pairs = (
        ids.select(F.col("record_id").alias("a"))
        .crossJoin(ids.select(F.col("record_id").alias("b")))
        .where("a < b")
    )
    jb = {(r.a, r.b): r.score for r in
          verify_jaccard(pairs, feats, strategy="broadcast").collect()}
    jj = {(r.a, r.b): r.score for r in
          verify_jaccard(pairs, feats, strategy="join").collect()}
    assert jb == jj  # exact float equality, not approx
    assert len(jb) == 60 * 59 // 2


def test_jaccard_and_containment_values(spark):
    df = spark.createDataFrame(
        [
            (0, [1, 2, 3, 4], [3, 4, 5, 6]),     # inter 2, union 6
            (1, [1, 2], [1, 2]),                 # identical
            (2, [1, 2, 3, 4, 5, 6], [5, 6]),     # containment 1.0, jac 1/3
            (3, [], [1, 2]),                     # empty side
        ],
        "i long, a array<long>, b array<long>",
    )
    out = df.select(
        "i",
        jaccard_similarity("a", "b").alias("j"),
        containment_score("a", "b").alias("c"),
    ).orderBy("i").collect()
    assert [r.j for r in out] == [2 / 6, 1.0, 2 / 6, 0.0]
    assert [r.c for r in out] == [2 / 4, 1.0, 1.0, 0.0]


def test_verify_containment_strategies_bit_identical(spark):
    """The shared blob scorer's containment metric (r4,
    _verify_set_broadcast) must equal the join form exactly —
    including pairs where the Jaccard size prune WOULD have fired
    (small-set-inside-big-set is precisely the containment shape)."""
    from semhash_spark.operators.verify import verify_containment

    feats = _feats(spark)
    ids = feats.select("record_id")
    pairs = (
        ids.select(F.col("record_id").alias("a"))
        .crossJoin(ids.select(F.col("record_id").alias("b")))
        .where("a < b")
    )
    cb = {(r.a, r.b): r.score for r in
          verify_containment(pairs, feats, strategy="broadcast").collect()}
    cj = {(r.a, r.b): r.score for r in
          verify_containment(pairs, feats, strategy="join").collect()}
    assert cb == cj
    assert len(cb) == 60 * 59 // 2
    # thresholded form keeps only >= t on both strategies
    t_b = {(r.a, r.b) for r in
           verify_containment(pairs, feats, threshold=0.9,
                              strategy="broadcast").collect()}
    t_j = {(r.a, r.b) for r in
           verify_containment(pairs, feats, threshold=0.9,
                              strategy="join").collect()}
    assert t_b == t_j == {k for k, v in cb.items() if v >= 0.9}
