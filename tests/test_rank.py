"""Ranking / outlier / diversification regressions (round 2).

filter_outliers must keep its exact ceil-count + tie-break semantics
WITHOUT a single-partition global window (VERDICT r1 #1); topk must
keep its deterministic output after the ship-blob rewrite; the
MSD/COVER strategies mirror the reference's pyversity surface."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

import semhash_spark.operators.rank as rank_ops
from tests.oracle import topk_crossjoin
from semhash_spark.operators.rank import (
    cover_select,
    diversify,
    dpp_select,
    filter_outliers,
    mmr_select,
    msd_select,
    ssd_select,
    topk_scores,
)


def _ranking(spark, scores):
    return spark.createDataFrame(
        [(i, float(s)) for i, s in enumerate(scores)], "query_id long, avg_score double"
    ).repartition(4)


def _expected_outliers(scores, pct):
    cnt = math.ceil(len(scores) * pct)
    order = sorted(range(len(scores)), key=lambda i: (scores[i], -i))
    return set(order[:cnt])


def test_filter_outliers_exact_count_and_ties(spark):
    # heavy ties: boundary tie-break (score asc, id desc) must be exact
    scores = [0.5] * 20 + [0.1] * 5 + [0.9] * 15
    r = _ranking(spark, scores)
    for pct in (0.1, 0.2, 0.5, 0.62):
        inl, outl = filter_outliers(r, pct)
        got = {row["query_id"] for row in outl.collect()}
        assert got == _expected_outliers(scores, pct), pct
        assert inl.count() + outl.count() == len(scores)


def test_filter_outliers_no_single_partition_window(spark):
    r = _ranking(spark, [float(i) for i in range(50)])
    inl, outl = filter_outliers(r, 0.1)
    for df in (inl, outl):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        assert "SinglePartition" not in plan


def test_boundary_key_quantile_path_matches_direct(spark, monkeypatch):
    # force the approxQuantile bracketing loop and compare to truth
    rng = np.random.default_rng(7)
    scores = np.round(rng.random(400), 2)  # many ties
    r = _ranking(spark, scores.tolist()).persist()
    monkeypatch.setattr(rank_ops, "OUTLIER_DIRECT_CAP", 10)
    for pct in (0.1, 0.33):
        inl, outl = filter_outliers(r, pct)
        got = {row["query_id"] for row in outl.collect()}
        assert got == _expected_outliers(scores.tolist(), pct)


def test_topk_broadcast_null_and_determinism(spark):
    rows = [(i, [float((i * 7 + j) % 5) for j in range(4)]) for i in range(30)]
    rows.append((30, None))
    emb = spark.createDataFrame(rows, "record_id long, embedding array<double>").repartition(3)
    tk = topk_scores(emb, emb, 5, exclude_self=True, strategy="broadcast")
    out = {(r["query_id"], r["rk"]): r["index_id"] for r in tk.collect()}
    ref = topk_crossjoin(emb, emb, 5, exclude_self=True)
    expect = {(r["query_id"], r["rk"]): r["index_id"] for r in ref.collect()}
    assert out == expect
    assert not any(q == 30 for q, _ in out)  # null query ranks nothing


@pytest.mark.parametrize(
    "select_fn", [mmr_select, msd_select, cover_select, dpp_select, ssd_select]
)
def test_diversity_zero_is_relevance_order(select_fn):
    emb = np.eye(6)
    rel = np.array([0.1, 0.9, 0.3, 0.8, 0.2, 0.5])
    sel, _ = select_fn(emb, rel, 4, diversity=0.0)
    assert sel == [1, 3, 5, 2]


@pytest.mark.parametrize(
    "select_fn", [msd_select, cover_select, dpp_select, ssd_select]
)
def test_diversity_one_spreads_across_clusters(select_fn):
    # two tight clusters; relevance favors cluster A — full diversity
    # must still pick from cluster B by the second selection
    a = np.array([1.0, 0.0]);  b = np.array([0.0, 1.0])
    emb = np.vstack([a, a + 0.01, a + 0.02, b, b + 0.01])
    rel = np.array([1.0, 0.99, 0.98, 0.1, 0.09])
    sel, _ = select_fn(emb, rel, 2, diversity=1.0)
    assert sel[0] == 0 and sel[1] in (3, 4)


def test_diversify_dispatch_and_unknown():
    emb = np.eye(3)
    rel = np.array([0.3, 0.2, 0.1])
    assert diversify(emb, rel, 2, 0.5, "msd")[0][0] == 0
    assert diversify(emb, rel, 2, 0.5, "dpp")[0][0] == 0
    assert diversify(emb, rel, 2, 0.5, "ssd")[0][0] == 0
    with pytest.raises(ValueError, match="unknown diversify strategy"):
        diversify(emb, rel, 2, 0.5, "tournament")


def test_dpp_conditional_variance_kills_duplicates():
    # an exact duplicate of a selected item has conditional variance 0:
    # at full diversity DPP must never pick it while any independent
    # direction remains
    a = np.array([1.0, 0.0, 0.0])
    emb = np.vstack([a, a, np.array([0.0, 1.0, 0.0]), np.array([0.0, 0.0, 1.0])])
    rel = np.array([1.0, 0.99, 0.1, 0.05])
    sel, _ = dpp_select(emb, rel, 3, diversity=1.0)
    assert sel[0] == 0 and 1 not in sel


def test_ssd_residual_norm_prefers_orthogonal():
    a = np.array([1.0, 0.0, 0.0])
    emb = np.vstack([a, a * 0.999 + np.array([0.0, 0.001, 0.0]), np.eye(3)[1], np.eye(3)[2]])
    rel = np.array([1.0, 0.99, 0.2, 0.1])
    sel, _ = ssd_select(emb, rel, 3, diversity=1.0)
    assert sel[0] == 0 and set(sel[1:]) == {2, 3}


def test_ssd_sliding_window_forgets_old_picks():
    # window=1: only the immediately preceding pick constrains the
    # residual, so a duplicate of pick #1 becomes selectable again at
    # pick #3 once the window slid past it
    e = np.eye(3)
    emb = np.vstack([e[0], e[1], e[0] + 1e-6 * e[2]])
    rel = np.array([1.0, 0.9, 0.8])
    sel, _ = ssd_select(emb, rel, 3, diversity=1.0, window=1)
    assert sel == [0, 1, 2]


def test_filter_result_release_unpersists(spark):
    """VERDICT r2 #6: the outlier ranking cache must be releasable —
    FilterResultDF.release() mirrors DedupResult.release()."""
    from semhash_spark.datamodels import FilterResultDF
    from semhash_spark.operators.rank import filter_outliers

    rows = [(i, float(100 - i)) for i in range(50)]
    ranking = spark.createDataFrame(rows, "query_id long, avg_score double")
    persisted: list = []
    inl, outl = filter_outliers(ranking, 0.1, persisted)
    res = FilterResultDF(selected=inl, filtered=outl, _persisted=persisted)
    assert outl.count() == 5
    assert len(res._persisted) == 1
    cached = res._persisted[0]
    assert cached.is_cached
    res.release()
    assert not cached.is_cached
    assert res._persisted == []
    # results remain usable post-release (they recompute)
    assert inl.count() == 45


def test_filter_outliers_leaves_caller_cache_alone(spark):
    """A pre-cached ranking (the api's memoized self_rank) is not
    re-registered for release — its owner manages that cache."""
    from semhash_spark.operators.rank import filter_outliers

    rows = [(i, float(i)) for i in range(30)]
    ranking = spark.createDataFrame(rows, "query_id long, avg_score double").persist()
    try:
        persisted: list = []
        inl, outl = filter_outliers(ranking, 0.2, persisted)
        assert outl.count() == 6
        assert persisted == []
        assert ranking.is_cached
    finally:
        ranking.unpersist()


def _avg_parity_table(spark, sqltype):
    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(6)]) for i in range(40)]
    rows[3] = (3, [0.0] * 6)  # zero norm: never ranks
    rows[7] = (7, None)  # NULL: never ranks
    rows[11] = (11, list(rows[12][1]))  # exact tie
    return spark.createDataFrame(rows, f"record_id long, embedding array<{sqltype}>").repartition(3)


@pytest.mark.parametrize("exclude_self", [True, False])
@pytest.mark.parametrize("k", [5, 39, 100])
@pytest.mark.parametrize("sqltype", ["float", "double"])
def test_kernel_avg_equals_groupby_avg_bitwise(spark, exclude_self, k, sqltype):
    """The in-kernel top-k average is Spark's avg of the kernel's rows,
    bit for bit: zero-norm and NULL rows, ties, and k >= n included."""
    emb = _avg_parity_table(spark, sqltype)
    tk = topk_scores(emb, emb, k, exclude_self=exclude_self, strategy="broadcast")
    want = {r["query_id"]: r["avg_score"] for r in
            tk.groupBy("query_id").agg(F.avg("score").alias("avg_score")).collect()}
    got = {r["query_id"]: r["avg_score"] for r in rank_ops._topk_broadcast(
        emb, emb, k, exclude_self, "record_id", "embedding", avg=True).collect()}
    assert got == want
    assert 3 not in got and 7 not in got and len(got) == 38


def test_rank_by_avg_similarity_sorts_detached_averages(spark):
    """The kernel's averages are detached before the sort (the call's
    blob is gone when it returns), so the sort reads driver-held rows
    and never re-runs the scan, and no aggregate recomputes the
    averages."""
    emb = _avg_parity_table(spark, "double")
    r = rank_ops.rank_by_avg_similarity(emb, emb, 5, exclude_self=True)
    rows = [(x.query_id, x.avg_score) for x in r.collect()]
    plan = r._jdf.queryExecution().executedPlan().toString()
    assert "Sort" in plan and "LocalTableScan" in plan and "MapInPandas" not in plan, plan
    assert "HashAggregate" not in plan
    assert rows == sorted(rows, key=lambda t: (-t[1], t[0])) and len(rows) == 38


def test_find_representative_one_collect_matches_driver_reference(spark):
    """The top candidates joined to their embeddings come back in one
    collect and are ordered on the driver by (avg_score desc, id asc):
    selection and the filtered-id order equal a driver-side reference,
    ties included."""
    from semhash_spark.operators.rank import find_representative

    rng = np.random.default_rng(9)
    n = 60
    scores = np.round(rng.random(n), 1)  # heavy ties
    embs = rng.standard_normal((n, 4))
    ranking = spark.createDataFrame(
        [(i, float(scores[i])) for i in range(n)], "query_id long, avg_score double"
    ).repartition(4)
    feats = spark.createDataFrame(
        [(i, [float(x) for x in embs[i]]) for i in range(n)],
        "record_id long, embedding array<double>",
    ).repartition(3)
    got = find_representative(ranking, feats, 5, candidate_limit=25, diversity=0.5)
    order = sorted(range(n), key=lambda i: (-scores[i], i))[:25]
    sel, sc = diversify(embs[order], scores[order], 5, 0.5, "mmr")
    want_sel = [order[p] for p in sel]
    assert got[0] == want_sel and got[1] == sc
    assert got[2] == [i for p, i in enumerate(order) if p not in set(sel)]
