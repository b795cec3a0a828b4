"""Self-dedup result assembly from its two inputs, and the driver-held
self ranking.

* Assembly parity: ``self_deduplicate`` builds its dup-node table and
  pair rows in numpy from the edges the driver holds (``blob.held``),
  from one probe of edges it does not hold (a checkpointer that
  re-reads each stage), or, above ``driver_cc_cap``, from the star CC
  and a distributed aggregation. All three must give the same
  selected / filtered / pairs rows, also when containment
  ``extra_edges`` touch exact-duplicate rows (the semantic rows stay
  restricted to exemplars).
* Held ranking parity: a driver-held ranking (the self ranking of a
  driver-held scan, or the detached ``rank()`` of a query) is sliced
  on the driver by ``filter_outliers`` and ``find_representative``;
  with heavily tied averages both must agree with the distributed
  plans over the same ranking as a plain frame.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash
from semhash_spark.blob import held
from semhash_spark.config import DedupConfig
from semhash_spark.operators import rank as rank_ops
from semhash_spark.plans.checkpoint import CheckpointManager

MINHASH = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                      num_perm=64, bands=16)
COS = DedupConfig(columns=("content",), threshold=0.75, embedding_dim=64,
                  embedding_ngram=2, rank_k=20)


@pytest.fixture(scope="module")
def corpus(spark):
    """A generated corpus plus verbatim copies of some of its files under
    new ids, so exact duplicates take part in containment edges."""
    from semhash_spark.sources.corpus import generate_corpus

    base = generate_corpus(spark, 300, seed=3)
    copies = base.where(F.col("record_id") % 7 == 0).withColumn(
        "record_id", F.col("record_id") + F.lit(10_000))
    df = base.unionByName(copies).persist()
    df.count()
    yield df
    df.unpersist()


def _rows(res) -> dict:
    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    return {"selected": rows(res.selected), "filtered": rows(res.filtered),
            "pairs": rows(res.pairs)}


def _minhash_run(corpus, cfg, checkpointer=None):
    from semhash_spark.functions.hashing import shingle_hashes
    from semhash_spark.operators.containment import containment_edges
    from semhash_spark.operators.dedup import self_deduplicate

    feats = corpus.select("record_id", shingle_hashes("content", cfg.shingle_k).alias("shingles"))
    extra = containment_edges(feats, cfg, "record_id")
    res = self_deduplicate(corpus, cfg, mode="minhash", extra_edges=extra,
                           checkpointer=checkpointer)
    return extra, res


def test_minhash_containment_paths_agree(spark, corpus, tmp_path):
    extra, drv = _minhash_run(corpus, MINHASH)
    assert held(extra) is not None
    # the trap: containment edges reach exact-duplicate rows
    dup_ids = {r[0] for r in corpus.where(F.col("record_id") >= 10_000).collect()}
    assert any(r.a in dup_ids or r.b in dup_ids for r in extra.collect())
    want = _rows(drv)
    _, star = _minhash_run(corpus, MINHASH.with_(driver_cc_cap=0))
    _, probe = _minhash_run(corpus, MINHASH, CheckpointManager(spark, str(tmp_path)))
    try:
        sem = [r for r in want["filtered"] if not r[-1]]
        assert sem and any(r[-1] for r in want["filtered"])
        # semantic pairs start only at exemplars
        assert not {r[0] for r in want["pairs"] if not r[3]} & dup_ids
        assert _rows(star) == want
        assert _rows(probe) == want
    finally:
        for r in (drv, star, probe):
            r.release()


def test_fitted_cosine_paths_agree(spark, corpus, tmp_path):
    sh = SparkSemHash(COS, mode="cosine").fit(corpus)
    star_sh = SparkSemHash(COS.with_(driver_cc_cap=0), mode="cosine").fit(corpus)
    try:
        drv = sh.self_deduplicate()
        want = _rows(drv)
        assert any(not r[-1] for r in want["filtered"])
        star = star_sh.self_deduplicate()
        probe = sh.self_deduplicate(checkpointer=CheckpointManager(spark, str(tmp_path)))
        assert _rows(star) == want
        assert _rows(probe) == want
        # the driver path caches nothing of its own
        assert drv._persisted == []
        for r in (drv, star, probe):
            r.release()
    finally:
        sh.release()
        star_sh.release()


def test_dup_graph_local_matches_star(spark):
    """The numpy dup graph equals the distributed one on an edge list
    with a chain, a repeated edge and self-loops (a loop's score counts
    toward its node's best score, and it is a pair row from each side)."""
    from semhash_spark.operators.components import connected_components
    from semhash_spark.operators.dedup import _dup_graph_local, _dup_graph_star

    rows = [(3, 1, 0.9), (3, 5, 0.8), (5, 7, 0.85), (5, 7, 0.85), (7, 7, 0.99),
            (9, 9, 0.95), (2, 4, 0.7), (4, 4, 0.75)]
    edges = spark.createDataFrame(rows, "a long, b long, score double")
    nodes, lab, dups, dup_pairs = _dup_graph_local(edges.toArrow(), "record_id")
    assert dict(zip(nodes.tolist(), lab.tolist())) == {
        1: 1, 3: 1, 5: 1, 7: 1, 2: 2, 4: 2}
    cc = connected_components(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")), driver_cap=0)
    star_dups, star_pairs = _dup_graph_star(edges, cc, "record_id")

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows_of(spark.createDataFrame(dups)) == rows_of(star_dups)
    assert rows_of(spark.createDataFrame(dup_pairs)) == rows_of(star_pairs)
    assert (7, 0.99) in {(r[0], r[2]) for r in rows_of(star_dups)}


@pytest.fixture(scope="module")
def tied_fit(spark):
    """A cosine fit whose averages tie heavily: rows come in groups of
    four identical embeddings (distinct content, so no exact dups)."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, 16))
    rows = [(i, f"row {i}", [float(x) for x in base[i // 4]]) for i in range(160)]
    df = spark.createDataFrame(rows, "record_id long, content string, embedding array<double>")
    sh = SparkSemHash(COS.with_(rank_k=5), mode="cosine").fit_embeddings(df)
    yield sh
    sh.release()


def _ids(df) -> list[int]:
    return sorted(r[0] for r in df.select("query_id").collect())


def test_held_filter_outliers_matches_distributed(spark, tied_fit):
    ranking = tied_fit.self_rank()
    rows = held(ranking)
    assert rows is not None and not ranking.is_cached
    avgs = rows["avg_score"].to_numpy()
    assert len(np.unique(avgs)) <= len(avgs) // 2  # heavy ties
    plain = spark.createDataFrame(ranking.collect(), "query_id long, avg_score double")
    assert held(plain) is None
    for pct in (0.0, 0.1, 0.5, 1.0):
        fo = tied_fit.self_filter_outliers(pct)
        # the new lifetime: nothing cached for a held ranking
        assert fo._persisted == []
        inl, outl = rank_ops.filter_outliers(plain, pct)
        assert _ids(fo.selected) == _ids(inl), pct
        assert _ids(fo.filtered) == _ids(outl), pct
        assert len(_ids(fo.filtered)) == int(np.ceil(len(avgs) * pct))
        # the splits keep the ranking order
        assert [tuple(r) for r in fo.selected.collect()] == [
            tuple(r) for r in rank_ops.order_ranking(inl).collect()]
        fo.release()


def test_held_find_representative_matches_distributed(spark, tied_fit):
    ranking = tied_fit.self_rank()
    plain = spark.createDataFrame(ranking.collect(), "query_id long, avg_score double")
    feats = tied_fit._feats
    # a limit above the ranking's size takes every row
    for k, limit in ((5, "auto"), (3, 20), (4, 10_000)):
        want = rank_ops.find_representative(plain, feats, k, limit)
        assert rank_ops.find_representative(ranking, feats, k, limit) == want
        assert tied_fit.self_find_representative(k, limit) == want
        assert len(want[0]) == k


def test_held_query_ranking_matches_distributed(spark, tied_fit):
    """``rank()`` of a query on the fit's blob comes back detached, so
    its outlier cut and representatives are driver slices too."""
    query = tied_fit._feats.where(F.col("record_id") % 3 == 0)
    ranking = tied_fit.rank(query)
    assert held(ranking) is not None
    plain = spark.createDataFrame(ranking.collect(), "query_id long, avg_score double")
    for pct in (0.0, 0.1, 0.5, 1.0):
        fo = tied_fit.filter_outliers(query, pct)
        assert fo._persisted == []
        inl, outl = rank_ops.filter_outliers(plain, pct)
        assert _ids(fo.selected) == _ids(inl), pct
        assert _ids(fo.filtered) == _ids(outl), pct
        fo.release()
    want = rank_ops.find_representative(plain, query, 4, "auto")
    assert tied_fit.find_representative(query, 4) == want
