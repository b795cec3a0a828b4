"""Cross-dedup through one fitted index (``dedup.FittedIndex``).

* Parity: a fitted ``SparkSemHash`` (index side built once by
  ``dedup.build_index`` and persisted for the fit) returns the same
  selected / filtered / pairs rows as the unfitted
  ``dedup.deduplicate`` (index side built per call), for every mode
  and both cosine plans; ``incremental`` equals
  ``incremental_deduplicate`` the same way on a banded and on a
  blob-served index side.
* Lifetime: 50 micro-batches against one fit, the
  ``semantic_dedup_stream`` pattern, leave no blob or pack dir of
  their own behind and the fit's blobs in place until its release, on
  the fused cosine path and on the minhash single-job blob path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash
from semhash_spark.config import DedupConfig
from semhash_spark.operators import dedup as dedup_ops
from tests.test_blob_lifecycle import _left_behind, written  # noqa: F401 (fixture)

CFG = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                  embedding_dim=64, embedding_ngram=2)


@pytest.fixture(scope="module")
def split(spark):
    """(index, query): the query holds fresh rows, verbatim clones of
    index rows under new ids and index rows with one appended token."""
    from semhash_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, 100, seed=4).persist()
    corpus.count()
    index = corpus.where(F.col("record_id") < 70)
    clones = corpus.where(F.col("record_id") < 10).withColumn(
        "record_id", F.col("record_id") + F.lit(1_000))
    edited = corpus.where(
        (F.col("record_id") >= 10) & (F.col("record_id") < 20)
    ).withColumn("record_id", F.col("record_id") + F.lit(2_000)).withColumn(
        "content", F.concat(F.col("content"), F.lit(" zz")))
    query = corpus.where(F.col("record_id") >= 70).unionByName(clones).unionByName(edited)
    yield index, query
    corpus.unpersist()


def _rows(res, source: str | None = None) -> dict:
    fil = ["record_id", "exemplar_id", "score", "exact"]
    pairs = ["dup_id", "other_id", "score", "exact"]
    if source:
        fil.append("exemplar_source")
        pairs.append("other_source")

    def rows(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    return {"selected": rows(res.selected, ["record_id"]),
            "filtered": rows(res.filtered, fil), "pairs": rows(res.pairs, pairs)}


_MODES = {
    "minhash": ("minhash", CFG),
    "simhash": ("simhash", CFG),
    "cosine_fused": ("cosine", CFG),
    "cosine_hyperplane": ("cosine", CFG.with_(cosine_fused_cap=0)),
    "jaccard_exact": ("jaccard_exact", CFG),
}


@pytest.mark.parametrize("plan", list(_MODES))
def test_fitted_index_matches_unfitted(spark, split, plan):
    mode, cfg = _MODES[plan]
    index, query = split
    sh = SparkSemHash(cfg, mode=mode).fit(index)
    try:
        fitted = sh.deduplicate(query)
        unfitted = dedup_ops.deduplicate(query, index, cfg, mode)
        got, want = _rows(fitted), _rows(unfitted)
        fitted.release()
        unfitted.release()
        assert got == want
        assert sum(r[3] for r in got["filtered"]) == 10  # the clones
        if mode != "simhash":  # simhash's hamming gate may drop the edits
            assert any(not r[3] for r in got["filtered"])
        # the fused cosine scan and the brute-force baseline read no bands
        assert (sh._index.bands is None) == (plan in ("cosine_fused", "jaccard_exact"))
    finally:
        sh.release()


@pytest.mark.parametrize("plan", ["minhash", "cosine_fused"])
def test_fitted_incremental_matches_unfitted(spark, split, plan):
    """``incremental`` hands the fit's index side to the cross stage;
    the banded and the blob-served index side each match the unfitted
    ``incremental_deduplicate``."""
    mode, cfg = _MODES[plan]
    index, query = split
    sh = SparkSemHash(cfg, mode=mode).fit(index)
    try:
        fitted = sh.incremental(query)
        unfitted = dedup_ops.incremental_deduplicate(query, index, cfg, mode)
        got, want = _rows(fitted, "source"), _rows(unfitted, "source")
        fitted.release()
        unfitted.release()
        assert got == want and got["filtered"]
    finally:
        sh.release()


def _micro_batches(sh, query, n=50):
    """``semantic_dedup_stream``'s per-batch work: deduplicate one
    micro-batch against the fit, consume ``selected``, release."""
    ids = sorted(r.record_id for r in query.select("record_id").collect())
    for k in range(n):
        batch = query.where(F.col("record_id") == ids[k % len(ids)])
        res = sh.deduplicate(batch)
        res.selected.count()
        res.release()


@pytest.mark.parametrize("mode", ["cosine", "minhash"])
def test_micro_batches_leave_no_blobs(spark, split, monkeypatch, mode, written):
    index, query = split
    if mode == "minhash":  # the single-job blob path at any size
        monkeypatch.setattr(dedup_ops, "CROSS_BLOB_MIN_ROWS", 1)
    sh = SparkSemHash(CFG, mode=mode).fit(index).prepare_index()
    try:
        if mode == "minhash":
            assert sh._index.cross_blobs is not None
        else:
            assert sh._index.emb_blob is not None
        _micro_batches(sh, query, n=1)  # the fit's blobs get packed
        fit_refs = list(written)
        assert fit_refs, "the fit wrote no blob"
        _micro_batches(sh, query)
        assert _left_behind(written[len(fit_refs):]) == []
        assert all(os.path.isdir(ref["path"]) for ref in fit_refs)
    finally:
        sh.release()
    assert _left_behind(written) == []
