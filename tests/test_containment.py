"""Containment (substring) stage vs planted fragments.

The synthetic corpus plants a contained fragment at every id with
slot 5: its content is a 40-token slice of id-5's file
(sources/corpus.py). Jaccard(fragment, container) ~ |X|/|Y| is far
below any dedup threshold, but containment >= 0.9 — exactly the case
the winnowing-anchor stage exists for (Schleimer et al., SIGMOD'03).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.functions.hashing import shingle_hashes
from semhash_spark.operators.containment import containment_edges
from semhash_spark.operators.dedup import self_deduplicate
from semhash_spark.sources.corpus import generate_corpus, truth_containment_pairs


def test_containment_finds_planted_fragments(spark):
    n = 1500
    corpus = generate_corpus(spark, n, partitions=8).persist()
    feats = corpus.select(
        "record_id", shingle_hashes("content", 5).alias("shingles")
    )
    cfg = DedupConfig(containment_threshold=0.9, anchor_mod=4)
    edges = {(r.a, r.b) for r in containment_edges(feats, cfg, "record_id").collect()}
    planted = {(min(f, c), max(f, c)) for f, c in truth_containment_pairs(n)}
    found = {(min(a, b), max(a, b)) for a, b in edges}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.99, (recall, sorted(planted - found)[:5])


def test_containment_edges_feed_cc(spark):
    # extra_edges wiring: fragments join their container's cluster
    n = 600
    corpus = generate_corpus(spark, n, partitions=8).persist()
    cfg = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                      num_perm=64, bands=16, containment_threshold=0.9, anchor_mod=4)
    feats = corpus.select("record_id", shingle_hashes("content", 5).alias("shingles"))
    extra = containment_edges(feats, cfg, "record_id")
    res = self_deduplicate(corpus, cfg, mode="minhash", extra_edges=extra)
    fil = {r.record_id: r.exemplar_id for r in
           res.filtered.select("record_id", "exemplar_id").collect()}
    for frag, container in truth_containment_pairs(n):
        # fragment and container end up in the same cluster: either the
        # fragment was filtered under the container's cluster root...
        root = fil.get(container, container)
        assert fil.get(frag) == root or frag == root, (frag, container, fil.get(frag))


def test_lcs_confirm_accepts_fragments_rejects_shuffles(spark):
    """LCS confirmation: a contiguous fragment passes even with small
    edits; a bag-of-same-tokens shuffle (high shingle overlap is
    impossible but high token overlap is) fails the contiguity bar."""
    from semhash_spark.kernels import _lcs_len
    from semhash_spark.operators.containment import lcs_confirm

    # kernel sanity
    assert _lcs_len("abcdefgh", "cdef") == 4
    assert _lcs_len("abc", "xyz") == 0
    assert _lcs_len("", "x") == 0

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    frag = base[40:200]                       # exact fragment
    frag_edit = frag[:70] + "X" + frag[71:]   # one-char edit inside
    shuffled = " ".join(sorted(frag.split())) # same tokens, no long run
    content = spark.createDataFrame(
        [(0, base), (1, frag), (2, frag_edit), (3, shuffled)],
        "record_id long, content string",
    )
    pairs = spark.createDataFrame(
        [(1, 0, 1.0), (2, 0, 1.0), (3, 0, 1.0)], "a long, b long, score double"
    )
    out = {(r.a, r.b): r.lcs_frac for r in
           lcs_confirm(pairs, content, min_frac=0.45).collect()}
    assert (1, 0) in out and out[(1, 0)] == 1.0
    assert (2, 0) in out and out[(2, 0)] >= 0.45  # edit splits the run
    assert (3, 0) not in out


def test_winnow_policy_finds_planted_fragments(spark):
    """Winnowing anchors reach the same planted-fragment recall as
    the mod policy on the synthetic corpus."""
    n = 1000
    corpus = generate_corpus(spark, n, partitions=8).persist()
    feats = corpus.select(
        "record_id", shingle_hashes("content", 5).alias("shingles")
    )
    cfg = DedupConfig(containment_threshold=0.9, anchor_policy="winnow",
                      winnow_window=8)
    edges = {(r.a, r.b) for r in containment_edges(feats, cfg, "record_id").collect()}
    planted = {(min(f, c), max(f, c)) for f, c in truth_containment_pairs(n)}
    found = {(min(a, b), max(a, b)) for a, b in edges}
    recall = len(planted & found) / len(planted)
    assert recall >= 0.99, (recall, sorted(planted - found)[:5])


def test_winnow_never_leaves_a_doc_anchorless(spark):
    """The mod policy's recall hole: a short doc whose few shingle
    hashes all miss 0 mod p gets ZERO anchors. Winnowing guarantees
    >= 1 anchor for every non-empty doc. Find such a doc empirically,
    then assert the contrast."""
    from semhash_spark.operators.containment import anchor_table

    rows = [(i, f"alpha{i} beta{i} gamma{i} delta{i} eps{i}") for i in range(300)]
    df = spark.createDataFrame(rows, "record_id long, text string")
    feats = df.select("record_id", shingle_hashes("text", 3).alias("shingles")).persist()
    n_docs = feats.count()
    mod_ids = {
        r.record_id
        for r in anchor_table(feats, "shingles", 8, "record_id", policy="mod")
        .select("record_id").distinct().collect()
    }
    # 3 distinct 3-gram shingles per doc -> P(no 0-mod-8 hash) =
    # (7/8)^3 ~ 0.67: most docs are anchorless under mod-8
    assert len(mod_ids) < n_docs, "expected at least one anchorless doc under mod"
    win_ids = {
        r.record_id
        for r in anchor_table(feats, "shingles", 8, "record_id", policy="winnow")
        .select("record_id").distinct().collect()
    }
    assert len(win_ids) == n_docs  # every doc contributes >= 1 anchor
    feats.unpersist()


def test_anchor_policy_validation():
    import pytest as _pytest

    with _pytest.raises(ValueError):
        DedupConfig(anchor_policy="nope")
