"""Parity of in-generator verification with the candidates -> join plan.

``lsh.candidate_pairs_self(pack=...)`` scores every LSH / anchor pair
inside the bucket generator against the mmap'd (id, shingles) blob.
It must return exactly the (a, b, score) set of distinct candidates
scored by ``verify_jaccard`` / ``verify_containment(strategy="join")``
— through star-capped buckets, buckets split across Arrow batches and
empty shingle sets — and the entry points' fallback (no blob
transport, or a blob above the size cap) must return the same edges
as the fused plan. The edges are materialized inside the calls, so
their frames outlive the blob, and no scratch outlives the calls.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.functions.hashing import minhash_signature, shingle_hashes
from semhash_spark.operators import verify
from semhash_spark.operators.containment import anchor_table, containment_edges
from semhash_spark.operators.dedup import self_deduplicate
from semhash_spark.operators.lsh import band_table, candidate_pairs_self
from semhash_spark.sources.corpus import generate_corpus

N = 600
CFG = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5, num_perm=64,
                  bands=16, containment_threshold=0.9, anchor_mod=4)


@pytest.fixture(scope="module")
def corpus(spark):
    """The synthetic corpus plus a few empty documents (empty shingle
    sets), which share one all-sentinel signature and so co-bucket."""
    base = generate_corpus(spark, N, partitions=4).select("record_id", "content")
    empties = spark.createDataFrame(
        [(N + i, "") for i in range(5)], "record_id long, content string")
    df = base.unionByName(empties).persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def feats(corpus):
    f = corpus.select(
        "record_id", shingle_hashes("content", CFG.shingle_k).alias("shingles")
    ).withColumn("sig", minhash_signature("shingles", CFG.num_perm)).persist()
    f.count()
    yield f
    f.unpersist()


def _rows(df) -> set:
    return {(r.a, r.b, r.score) for r in df.select("a", "b", "score").collect()}


@pytest.fixture
def tiny_batches(spark):
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    yield
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def _fused(bands, feats, cap, metric, threshold):
    ref = verify.write_blob(feats.select("record_id", "shingles"), "record_id",
                            "shingles", "paritytest")
    try:
        return _rows(candidate_pairs_self(bands, cap, "record_id", pack=ref,
                                          metric=metric, threshold=threshold))
    finally:
        verify.drop_blob(ref)


def _joined(bands, feats, cap, metric, threshold):
    cands = candidate_pairs_self(bands, cap, "record_id")
    fn = verify.verify_jaccard if metric == "jaccard" else verify.verify_containment
    return _rows(fn(cands, feats, "shingles", "record_id", threshold, strategy="join"))


@pytest.mark.parametrize("cap", [1000, 3], ids=["all_pairs", "star_capped"])
@pytest.mark.parametrize("batches", ["default", "split"])
@pytest.mark.parametrize("threshold", [0.8, None], ids=["edges", "all_scores"])
def test_fused_jaccard_matches_join(spark, feats, cap, batches, threshold, request):
    if batches == "split":
        request.getfixturevalue("tiny_batches")
    # the band table keeps the empty documents (their shared sentinel
    # signature makes one bucket of empty sets, scored 0.0)
    bands = band_table(feats, "sig", CFG.bands, "record_id", CFG.rows_per_band)
    got = _fused(bands, feats, cap, "jaccard", threshold)
    want = _joined(bands, feats, cap, "jaccard", threshold)
    assert got == want
    if threshold is None:
        assert any(s == 0.0 for _, b, s in got if b >= N), "empty sets not scored"
    else:
        assert got and min(s for *_, s in got) >= threshold


@pytest.mark.parametrize("cap", [1000, 3], ids=["all_pairs", "star_capped"])
@pytest.mark.parametrize("batches", ["default", "split"])
def test_fused_containment_matches_join(spark, feats, cap, batches, request):
    if batches == "split":
        request.getfixturevalue("tiny_batches")
    anchors = anchor_table(feats, "shingles", CFG.anchor_mod, "record_id")
    for threshold in (CFG.containment_threshold, None):
        got = _fused(anchors, feats, cap, "containment", threshold)
        assert got == _joined(anchors, feats, cap, "containment", threshold)
        assert got


def test_fallback_without_blob_transport_matches_fused(spark, corpus, feats, monkeypatch):
    """Both entry points keep the candidates -> join plan when blobs
    cannot reach the executors, with the same edges as the fused plan."""
    sh = feats.select("record_id", "shingles")
    fused_c = _rows(containment_edges(sh, CFG, "record_id"))
    fused_res = self_deduplicate(corpus, CFG, mode="minhash")
    fused_pairs = {tuple(r) for r in fused_res.pairs.collect()}
    fused_res.release()

    def no_blob(*args, **kwargs):
        raise AssertionError("the fallback wrote a blob")

    monkeypatch.setattr(verify, "blob_transport_available", lambda spark: False)
    monkeypatch.setattr(verify, "write_blob", no_blob)
    assert _rows(containment_edges(sh, CFG, "record_id")) == fused_c
    res = self_deduplicate(corpus, CFG, mode="minhash")
    assert {tuple(r) for r in res.pairs.collect()} == fused_pairs
    res.release()
    assert fused_c and fused_pairs


def test_blob_above_cap_falls_back_after_a_bounded_write(spark, feats, monkeypatch,
                                                        tiny_batches):
    """A blob that cannot fit stops being written soon after it passes
    VERIFY_BROADCAST_MAX_BYTES, is removed, and the call keeps the join
    plan with the same edges."""
    sh = feats.select("record_id", "shingles")
    ref = verify.write_blob(sh, "record_id", "shingles", "captest")
    full = verify._dir_bytes(ref["path"])
    verify.drop_blob(ref)
    fused = _rows(containment_edges(sh, CFG, "record_id"))

    seen = []
    drop = verify.drop_blob

    def measured_drop(ref):
        seen.append(verify._dir_bytes(ref["path"]))
        drop(ref)

    monkeypatch.setattr(verify, "VERIFY_BROADCAST_MAX_BYTES", full // 20)
    monkeypatch.setattr(verify, "drop_blob", measured_drop)
    assert verify.write_blob(sh, "record_id", "shingles", "captest",
                             max_bytes=full // 20) is None
    assert len(seen) == 1 and seen[0] < full // 2, (seen, full)
    assert _rows(containment_edges(sh, CFG, "record_id")) == fused


def test_edge_frames_outlive_their_blob(spark, corpus, feats):
    """Frames derived from a containment frame that was itself dropped,
    and the frames of a released result, still compute: the edges were
    collected before the blob went."""
    import gc

    sh = feats.select("record_id", "shingles")
    strong = containment_edges(sh, CFG, "record_id").where(F.col("score") >= 0.95)
    gc.collect()
    assert strong.count() > 0
    res = self_deduplicate(corpus, CFG, mode="minhash",
                           extra_edges=containment_edges(sh, CFG, "record_id"))
    gc.collect()
    pairs = {tuple(r) for r in res.pairs.collect()}
    res.release()
    assert pairs and {tuple(r) for r in res.pairs.collect()} == pairs


def _scratch_entries() -> set:
    """Blob dirs of the entry points' calls: written blobs and the
    workers' pack dirs."""
    import os
    import tempfile

    prefixes = ("contain_", "lshverify_")
    roots = [tempfile.gettempdir(), os.path.join(tempfile.gettempdir(), "semhash_packed")]
    return {
        os.path.join(r, e) for r in roots if os.path.isdir(r)
        for e in os.listdir(r) if e.startswith(prefixes)
    }


def _worker_cache_sizes(spark, tags: set) -> list[tuple[int, int]]:
    """(cached packs of ``tags``, the same after a prune) of the python
    workers a small job reaches."""
    def probe(batches):
        import pandas as pd

        from semhash_spark.operators import verify as v

        def mine():
            return sum(key[-1] in tags for key in v._BLOB_CACHE)

        before = mine()
        v._prune_blob_cache()
        for _ in batches:
            pass
        yield pd.DataFrame({"before": [before], "after": [mine()]})

    rows = spark.range(0, 16, 1, 16).mapInPandas(probe, "before long, after long").collect()
    return [(r.before, r.after) for r in rows]


def test_blob_lifecycle_flat_over_repeated_calls(spark, monkeypatch):
    """Each call removes its blob dir and pack dir before it returns,
    and the workers' mmap caches drop the removed packs: 20 calls of
    containment + minhash self-dedup leave no scratch behind."""
    corpus = generate_corpus(spark, 300, partitions=4).persist()
    feats = corpus.select(
        "record_id", shingle_hashes("content", CFG.shingle_k).alias("shingles"))
    tags: set = set()
    write = verify.write_blob

    def recorded_write(*args, **kwargs):
        ref = write(*args, **kwargs)
        assert ref is not None, "no blob was written"
        tags.add(ref["tag"])
        return ref

    monkeypatch.setattr(verify, "write_blob", recorded_write)
    before = _scratch_entries()
    counts = set()
    for _ in range(20):
        extra = containment_edges(feats, CFG, "record_id")
        res = self_deduplicate(corpus, CFG, mode="minhash", extra_edges=extra)
        assert _scratch_entries() == before
        counts.add((res.selected.count(), res.filtered.count()))
        res.release()
    sizes = _worker_cache_sizes(spark, tags)
    corpus.unpersist()
    assert len(tags) == 40 and len(counts) == 1
    # a worker's load prunes every removed pack, so at most the two
    # packs of its last call stay cached; none survive a prune
    assert max(b for b, _ in sizes) <= 2, sizes
    assert max(a for _, a in sizes) == 0, sizes
