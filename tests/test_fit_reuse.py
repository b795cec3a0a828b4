"""A fitted SparkSemHash serves every self-surface from one fit.

``fit`` persists the exact stage and the features once; in cosine mode
the fit also measures its embedding table once, writes it as one blob
and scans it once (``rank.cosine_self_scan``) for both the self-dedup
edges and the top-k averages. These tests count those steps over
``fit`` -> ``self_deduplicate`` -> ``self_filter_outliers`` ->
``self_find_representative`` and check the results against the
operators run without any fitted state."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash
from semhash_spark.config import DedupConfig
from semhash_spark.operators import dedup as dedup_ops
from semhash_spark.operators import rank as rank_ops
from semhash_spark.operators import verify as verify_ops

COS = DedupConfig(columns=("content",), threshold=0.75, embedding_dim=64,
                  embedding_ngram=2, rank_k=20)
MINHASH = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                      num_perm=64, bands=16)


@pytest.fixture(scope="module")
def corpus(spark):
    from semhash_spark.sources.corpus import generate_corpus

    df = generate_corpus(spark, 400, seed=3).persist()
    df.count()
    yield df
    df.unpersist()


def _counting(monkeypatch, module, name, counts):
    real = getattr(module, name)

    def wrapped(*args, **kwargs):
        counts[name] = counts.get(name, 0) + 1
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapped)


def _dedup_rows(res):
    sel = sorted(r[0] for r in res.selected.select("record_id").collect())
    fil = sorted(tuple(r) for r in res.filtered.select(
        "record_id", "exemplar_id", "exact", "score").collect())
    pairs = sorted(tuple(r) for r in res.pairs.collect())
    return sel, fil, pairs


def _unfused_ranking(feats, cfg):
    """The parent plan of the self ranking: top-k rows, then groupBy avg."""
    tk = rank_ops.topk_scores(feats, feats, cfg.rank_k, exclude_self=True,
                              strategy="broadcast")
    return rank_ops.order_ranking(
        tk.groupBy("query_id").agg(F.avg("score").alias("avg_score"))).persist()


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_cosine_fit_runs_each_step_once_and_matches(spark, corpus, monkeypatch):
    from semhash_spark import api

    counts: dict = {}
    _counting(monkeypatch, dedup_ops, "featurize", counts)
    _counting(monkeypatch, api, "self_exact_dedup", counts)
    _counting(monkeypatch, dedup_ops, "self_exact_dedup", counts)
    _counting(monkeypatch, verify_ops, "write_blob", counts)
    _counting(monkeypatch, verify_ops, "_feat_bytes", counts)

    sh = SparkSemHash(COS, mode="cosine").fit(corpus)
    res = sh.self_deduplicate()
    got = _dedup_rows(res)
    fo = sh.self_filter_outliers(0.1)
    outliers = sorted(r[0] for r in fo.filtered.select("query_id").collect())
    reps = sh.self_find_representative(5)
    ranking = [tuple(r) for r in sh.self_rank().collect()]
    assert counts == {"featurize": 1, "self_exact_dedup": 1,
                      "write_blob": 1, "_feat_bytes": 1}, counts
    assert len(sh._scans) == 1

    monkeypatch.undo()
    ref = dedup_ops.self_deduplicate(corpus, COS, "cosine")
    assert got == _dedup_rows(ref)
    assert len(got[1]) > len([f for f in got[1] if f[2]])  # semantic dups exist
    unfused = _unfused_ranking(sh._feats, COS)
    assert ranking == [tuple(r) for r in unfused.collect()]
    _, outl = rank_ops.filter_outliers(unfused, 0.1)
    assert outliers == sorted(r[0] for r in outl.select("query_id").collect())
    assert reps == rank_ops.find_representative(unfused, sh._feats, 5)

    # a result's release leaves the fit's caches, its driver-held scan
    # memo and its blob alone
    import os

    scan = sh._scans[COS.threshold]
    n_scan = scan.count()
    blob = sh._idx_blob_ref["path"]
    fit_frames = (sh._keyed, sh._feats)
    assert not any(any(f is p for p in res._persisted) for f in (*fit_frames, scan))
    res.release()
    fo.release()
    assert all(_cached(f) for f in fit_frames)
    assert sh._scans[COS.threshold] is scan and os.path.isdir(blob)
    # the fit's release drops them, the blob, the scan memo and the
    # size memo; the detached scan still computes without its blob
    sh.release()
    assert not any(_cached(f) for f in fit_frames)
    assert sh._scans == {} and sh._emb_size_memo is None
    assert not os.path.exists(blob) and scan.count() == n_scan
    ref.release()
    unfused.unpersist()


def test_cosine_non_default_threshold_matches(spark, corpus):
    sh = SparkSemHash(COS, mode="cosine").fit(corpus)
    try:
        for thr in (0.7, COS.threshold):
            res = sh.self_deduplicate(threshold=thr)
            ref = dedup_ops.self_deduplicate(corpus, COS, "cosine", threshold=thr)
            assert _dedup_rows(res) == _dedup_rows(ref), thr
            assert res.threshold == thr
            res.release()
            ref.release()
        assert set(sh._scans) == {0.7, COS.threshold}
        # the ranking reads the first scan's averages: no third scan
        sh.self_rank().count()
        assert set(sh._scans) == {0.7, COS.threshold}
    finally:
        sh.release()


def test_cosine_above_topk_cap_keeps_fused_edges(spark, corpus, monkeypatch):
    """With the top-k over its broadcast cap there is no shared scan:
    the edges still come from the fused scan over the fit's blob and
    the ranking from the IVF plan, with the same results."""
    counts: dict = {}
    _counting(monkeypatch, verify_ops, "write_blob", counts)
    monkeypatch.setattr(rank_ops, "BROADCAST_TOPK_CAP", 0)
    sh = SparkSemHash(COS, mode="cosine").fit(corpus)
    try:
        res = sh.self_deduplicate()
        got = _dedup_rows(res)
        ranking = [tuple(r) for r in sh.self_rank().collect()]
        assert sh._scans == {} and counts == {"write_blob": 1}
        ref = dedup_ops.self_deduplicate(corpus, COS, "cosine")
        assert got == _dedup_rows(ref)
        unfused = _unfused_ranking(sh._feats, COS)
        want = [tuple(r) for r in unfused.collect()]
        assert [r[0] for r in ranking] == [r[0] for r in want]
        assert [r[1] for r in ranking] == pytest.approx([r[1] for r in want], abs=1e-12)
        res.release()
        ref.release()
        unfused.unpersist()
    finally:
        sh.release()


def test_minhash_fit_reuses_exact_stage_and_features(spark, corpus, monkeypatch):
    from semhash_spark import api

    counts: dict = {}
    _counting(monkeypatch, api, "self_exact_dedup", counts)
    _counting(monkeypatch, dedup_ops, "self_exact_dedup", counts)
    _counting(monkeypatch, dedup_ops, "add_features", counts)
    sh = SparkSemHash(MINHASH, mode="minhash").fit(corpus)
    try:
        res = sh.self_deduplicate()
        got = _dedup_rows(res)
        assert counts == {"self_exact_dedup": 1, "add_features": 1}, counts
        monkeypatch.undo()
        ref = dedup_ops.self_deduplicate(corpus, MINHASH, "minhash")
        assert got == _dedup_rows(ref)
        res.release()
        assert _cached(sh._keyed) and _cached(sh._feats)
        ref.release()
    finally:
        sh.release()
