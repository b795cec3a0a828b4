"""Regression tests for the round-4 self-review findings.

Each test pins a defect found reviewing the round-4 diff:
* ``SparkSemHash.incremental()`` passed ``index_blob_ref=`` to an
  ``incremental_deduplicate`` that did not accept it -> TypeError on
  every call (no test drove the fitted-api incremental surface).
* ``DedupResult.filtered_strings()`` resolved ``duplicate_of``
  against ``selected`` only — cross-dedup exemplar ids live in the
  INDEX id space, so every cross row rendered NULL (or, with
  overlapping id spaces, the wrong record's text).
* ``records_from_strings`` only checked ``texts[0]`` for dicts, so a
  mixed list ingested ``str(dict)`` reprs instead of raising.
* cosine fused-path memo: repeated ``deduplicate()`` calls re-ran
  the fit-side ``_feat_bytes`` aggregation every time.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash, records_from_strings
from semhash_spark.config import DedupConfig

CFG = DedupConfig(columns=("text",), threshold=0.7, shingle_k=2,
                  num_perm=64, bands=16)


def _prior(spark):
    return spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog today"),
         (1, "completely different words appear in this unrelated text"),
         (2, "numbers one two three four five six seven eight nine")],
        "record_id long, text string",
    )


def _new(spark):
    return spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "a genuinely fresh document with brand new content words"),
         (12, "a genuinely fresh document with brand new content words"),
         (13, "yet another island of content with unique vocabulary")],
        "record_id long, text string",
    )


def test_api_incremental_smoke_minhash(spark):
    """The fitted-api incremental surface must actually run (it used
    to raise TypeError: unexpected keyword 'index_blob_ref')."""
    sh = SparkSemHash(CFG, mode="minhash").fit(_prior(spark))
    try:
        res = sh.incremental(_new(spark))
        sel = sorted(r.record_id for r in res.selected.collect())
        fil = {r.record_id: (r.exemplar_id, r.exemplar_source)
               for r in res.filtered.collect()}
        assert sel == [11, 13]
        assert fil[10] == (0, "index")
        assert fil[12] == (11, "batch")
        res.release()
    finally:
        sh.release()


def test_api_incremental_smoke_cosine_fused(spark):
    """Same surface in cosine mode: the fit-side blob memo is passed
    through the incremental path (and the second call must reuse it
    rather than re-deriving the fit-side decision)."""
    sh = SparkSemHash(CFG.with_(threshold=0.95), mode="cosine").fit(_prior(spark))
    try:
        res = sh.incremental(_new(spark))
        assert sh._idx_blob_ref is not None  # fused path engaged at this size
        blob_before = sh._idx_blob_ref
        sel = sorted(r.record_id for r in res.selected.collect())
        assert 10 not in sel  # exact duplicate of prior 0 -> cosine 1.0
        assert {11, 13} <= set(sel)
        res.release()
        res2 = sh.incremental(_new(spark))
        assert sh._idx_blob_ref is blob_before  # memo survived, not rebuilt
        assert sorted(r.record_id for r in res2.selected.collect()) == sel
        res2.release()
    finally:
        sh.release()


def test_filtered_strings_cross_uses_exemplar_records(spark):
    """Cross-mode exemplar ids live in the index corpus: calling
    filtered_strings() without exemplar_records now raises (ADVICE
    r4 — it used to silently render NULL duplicate_of); with the
    index frame passed, the real index record text renders."""
    import pytest

    from semhash_spark.operators.dedup import deduplicate

    index = _prior(spark)
    query = _new(spark)
    res = deduplicate(query, index, CFG, mode="jaccard_exact", threshold=0.7)
    try:
        with pytest.raises(ValueError, match="exemplar_records"):
            res.filtered_strings()
        full = {r.record_id: r.duplicate_of
                for r in res.filtered_strings(exemplar_records=index).collect()}
        assert full[10] == "the quick brown fox jumps over the lazy dog today"
    finally:
        res.release()


def test_from_strings_rejects_dict_anywhere(spark):
    with pytest.raises(ValueError, match="Columns must be specified"):
        records_from_strings(spark, ["ok", {"text": "x"}])
