"""Round-5 review items.

* ``cosine_max_k`` — the reference's ANN result cap (max_k=100,
  semhash/index.py:59) applied in the fused cosine kernels: bounds
  the quadratic edge emission of mega-clusters while leaving
  min-id cluster assignments unchanged for complete sub-clusters.
* ``driver_cc_cap`` config knob — forcing the distributed star-CC
  path through the public self_deduplicate surface.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.operators.dedup import self_deduplicate


def _clique_corpus(spark, n_clique=150, n_noise=50):
    """n_clique rows sharing one header (a >=θ cosine clique much
    wider than max_k) + n_noise independent rows."""
    rows = []
    header = "alpha beta gamma delta epsilon zeta eta theta " * 8
    rng = np.random.default_rng(3)
    words = ["w%d" % i for i in range(1000)]
    for i in range(n_clique):
        tail = " ".join(rng.choice(words, size=6))
        rows.append((i, header + tail))
    for i in range(n_clique, n_clique + n_noise):
        rows.append((i, " ".join(rng.choice(words, size=80))))
    return spark.createDataFrame(rows, "record_id long, content string")


CFG = DedupConfig(columns=("content",), threshold=0.8, embedding_dim=64,
                  embedding_ngram=1)


def test_cosine_max_k_same_clusters_on_clique(spark):
    """A 150-member clique capped at max_k=8: every member still
    lands in the min-id cluster (capped a<b emission keeps complete
    clusters connected), selected/filtered identical to uncapped."""
    df = _clique_corpus(spark)

    res_uncapped = self_deduplicate(df, CFG.with_(cosine_max_k=None),
                                    mode="cosine")
    sel_u = sorted(r.record_id for r in res_uncapped.selected.collect())
    n_pairs_u = res_uncapped.pairs.count()
    res_uncapped.release()

    res_capped = self_deduplicate(df, CFG.with_(cosine_max_k=8), mode="cosine")
    sel_c = sorted(r.record_id for r in res_capped.selected.collect())
    n_pairs_c = res_capped.pairs.count()
    fil = {r.record_id: r.exemplar_id for r in res_capped.filtered.collect()}
    res_capped.release()

    assert sel_c == sel_u
    # the whole clique collapsed onto its min id
    assert all(fil[i] == 0 for i in range(1, 150))
    # and the cap actually bit: uncapped emits O(m^2) pairs, capped
    # O(m*k) (the pairs relation records each edge from both
    # endpoints, hence the 2x)
    assert n_pairs_u > 10_000
    assert n_pairs_c <= 2 * 150 * 8 + 100


def test_cosine_max_k_bounds_cross_pairs(spark):
    """Cross dedup against a clique index: existential results are
    cap-invariant; the pairs detail is bounded by max_k per query."""
    from semhash_spark.operators.dedup import deduplicate

    idx = _clique_corpus(spark)
    q = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta " * 8 + "zz")],
        "record_id long, content string",
    )
    res = deduplicate(q, idx, CFG.with_(cosine_max_k=5), mode="cosine")
    try:
        assert res.selected.count() == 0  # the query hits the clique
        assert res.filtered.count() == 1
        assert res.pairs.count() <= 5
    finally:
        res.release()


def test_driver_cc_cap_zero_forces_star_path(spark):
    """cfg.driver_cc_cap=0 must route clustering through the
    alternating-star rounds and produce identical results."""
    df = _clique_corpus(spark, n_clique=40, n_noise=20)
    r_drv = self_deduplicate(df, CFG, mode="cosine")
    r_star = self_deduplicate(df, CFG.with_(driver_cc_cap=0), mode="cosine")
    try:
        assert (sorted(r.record_id for r in r_drv.selected.collect())
                == sorted(r.record_id for r in r_star.selected.collect()))
        d = {r.record_id: r.exemplar_id for r in r_drv.filtered.collect()}
        s = {r.record_id: r.exemplar_id for r in r_star.filtered.collect()}
        assert d == s
    finally:
        r_drv.release()
        r_star.release()


def test_ivf_salting_is_output_invariant(spark):
    """The round-5 OOM fix: the IVF scan bounds applyInPandas group
    size by salting the probe stream and replicating each cell's
    capped home pack to every salt. A tiny group_cap (many salts per
    cell) must produce the exact same edge set — ids AND bit-identical
    scores — as an effectively-unsalted run (group_cap >= all rows).
    The corpus is deliberately skewed: one tight angular blob drops
    most rows into a single cell, the unsalted failure shape."""
    from semhash_spark.operators.verify import cosine_threshold_edges_ivf

    rng = np.random.default_rng(11)
    u = rng.standard_normal(16)
    u /= np.linalg.norm(u)
    rows = []
    for i in range(300):  # the mega-cell blob
        v = u + 0.05 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    for i in range(300, 400):  # scatter
        v = rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    feats = spark.createDataFrame(
        rows, "record_id long, embedding array<double>")

    kw = dict(n_cells=4, n_probe=2, cell_cap=80, seed=7, n_rows=400)
    salted = cosine_threshold_edges_ivf(
        feats, 0.9, group_cap=25, **kw).collect()
    plain = cosine_threshold_edges_ivf(
        feats, 0.9, group_cap=10**9, **kw).collect()

    as_set = lambda res: {(r.a, r.b, r.score) for r in res}  # noqa: E731
    assert len(salted) > 100  # the blob actually pairs
    assert as_set(salted) == as_set(plain)
