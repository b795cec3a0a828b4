"""Parity of the single-job blob cross-dedup path (round 6,
operators/crossblob.py) against the relational plan: identical
selected / filtered / pairs frames — same rows, same exemplars, same
bit-exact scores — on a corpus with planted exact clones, near-dups,
a thinning-sized boilerplate bucket, and shingle-less queries. Each
plan is forced by monkeypatching its gate constant
(``dedup.CROSS_BLOB_MIN_ROWS`` / ``dedup.CROSS_THIN_MIN_ROWS``)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash
from semhash_spark.config import DedupConfig
from semhash_spark.operators import dedup as dedup_ops
from semhash_spark.sources.corpus import generate_corpus


@pytest.fixture(scope="module")
def corpus(spark):
    df = generate_corpus(spark, 3000).persist()
    df.count()
    yield df
    df.unpersist()


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


# above any fitted side here: the gated plan never runs
_OFF = float("inf")


def _run(monkeypatch, corpus, min_rows, bucket_cap=200, thin_min=300_000):
    monkeypatch.setattr(dedup_ops, "CROSS_BLOB_MIN_ROWS", min_rows)
    monkeypatch.setattr(dedup_ops, "CROSS_THIN_MIN_ROWS", thin_min)
    cfg = DedupConfig(
        columns=("content",), threshold=0.8, shingle_k=5, num_perm=128,
        bands=32, bucket_cap=bucket_cap,
    )
    idx = corpus.where(F.col("record_id") < 2500)
    # query mix: fresh tail rows (disjoint + boiler overlap), verbatim
    # clones of index rows under new ids (exact leakage), and an
    # empty-content row (no shingles -> no bands)
    clones = corpus.where(F.col("record_id") < 40).withColumn(
        "record_id", F.col("record_id") + F.lit(100_000)
    )
    # near-dup (non-exact) leakage: index rows with one appended token
    # — different exact key, Jaccard ~0.96 against the source row
    edited = corpus.where(
        (F.col("record_id") >= 40) & (F.col("record_id") < 80)
    ).withColumn(
        "record_id", F.col("record_id") + F.lit(150_000)
    ).withColumn("content", F.concat(F.col("content"), F.lit(" zz")))
    empty = corpus.sparkSession.createDataFrame(
        [(200_000, "r", "p", "c", "py", "")],
        "record_id long, repo string, path string, commit string, "
        "lang string, content string",
    )
    q = (
        corpus.where(F.col("record_id") >= 2500)
        .unionByName(clones).unionByName(edited).unionByName(empty)
    )
    sh = SparkSemHash(cfg, mode="minhash").fit(idx)
    sh.prepare_index()
    res = sh.deduplicate(q, broadcast_query=True)
    out = {
        "selected": _rows(res.selected, ["record_id"]),
        "filtered": _rows(res.filtered, ["record_id", "exemplar_id",
                                         "score", "exact"]),
        "pairs": _rows(res.pairs, ["dup_id", "other_id", "score", "exact"]),
        "blob_used": sh._index.cross_blobs is not None,
        "thinned": sh._index.bands_thinned,
    }
    res.release()
    sh.release()
    return out


def test_blob_cross_matches_relational(monkeypatch, corpus):
    blob = _run(monkeypatch, corpus, min_rows=1)
    rel = _run(monkeypatch, corpus, min_rows=_OFF)
    assert blob["blob_used"] and not rel["blob_used"]
    assert blob["selected"] == rel["selected"]
    assert blob["filtered"] == rel["filtered"]
    assert blob["pairs"] == rel["pairs"]
    # the mix actually exercised every leg
    n_exact = sum(1 for r in blob["filtered"] if r[3])
    n_sem = sum(1 for r in blob["filtered"] if not r[3])
    assert n_exact >= 40 and n_sem > 0 and len(blob["selected"]) > 0


def test_prethinned_memo_matches_per_call_thinning(monkeypatch, corpus):
    """The CROSS_THIN_MIN_ROWS gate (round 6): a small fitted side
    stores its band memo UNTHINNED and thins per deduplicate call;
    forcing thin-at-prepare (thin_min=0) must read the exact same
    thinned buckets. bucket_cap=3 so thinning actually engages."""
    per_call = _run(monkeypatch, corpus, min_rows=_OFF, bucket_cap=3)
    pre_thin = _run(monkeypatch, corpus, min_rows=_OFF, bucket_cap=3, thin_min=0)
    assert pre_thin["thinned"] and not per_call["thinned"]
    assert not per_call["blob_used"] and not pre_thin["blob_used"]
    assert per_call["selected"] == pre_thin["selected"]
    assert per_call["filtered"] == pre_thin["filtered"]
    assert per_call["pairs"] == pre_thin["pairs"]


def test_blob_cross_matches_relational_tiny_cap(monkeypatch, corpus):
    """bucket_cap=3 forces heavy index-side thinning; both paths must
    read the same thinned buckets."""
    blob = _run(monkeypatch, corpus, min_rows=1, bucket_cap=3)
    rel = _run(monkeypatch, corpus, min_rows=_OFF, bucket_cap=3)
    assert blob["blob_used"] and not rel["blob_used"]
    assert blob["filtered"] == rel["filtered"]
    assert blob["pairs"] == rel["pairs"]
