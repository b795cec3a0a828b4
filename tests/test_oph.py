"""One-permutation MinHash (OPH) signature family.

The estimator property under test: P(sig_a[p] == sig_b[p]) ~ J(a, b)
per component (Li/Owen/Zhang NIPS 2012; densification Shrivastava &
Li ICML 2014) — so LSH banding over OPH signatures finds the same
near-duplicate candidates as the k-perm family at ~1/num_perm the
sketch compute. Final pipeline output correctness is guaranteed by
exact verification regardless of family; these tests pin the recall
side.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.functions.hashing import oph_signature, shingle_hashes
from semhash_spark.operators.dedup import self_deduplicate


def _sig_map(spark, rows, num_perm=128):
    df = spark.createDataFrame(rows, "record_id long, text string")
    feats = df.select(
        "record_id",
        shingle_hashes("text", 3).alias("sh"),
    ).select("record_id", oph_signature("sh", num_perm).alias("sig"))
    return {r.record_id: np.array(r.sig, dtype=np.int64) for r in feats.collect()}


def test_oph_estimator_tracks_jaccard(spark):
    rng = np.random.default_rng(5)
    words = [f"w{i}" for i in range(400)]
    base = list(rng.choice(words, size=120, replace=False))
    rows = [(0, " ".join(base))]
    # overlap fractions by replacing a suffix of the token list
    fracs = [0.9, 0.7, 0.5]
    for i, f in enumerate(fracs, start=1):
        k = int(len(base) * (1 - f))
        repl = base.copy()
        pool = [w for w in words if w not in base]
        repl[-k:] = pool[:k]
        rows.append((i, " ".join(repl)))
    sigs = _sig_map(spark, rows, num_perm=128)

    def py_shingles(t):
        toks = t.split()
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    s0 = py_shingles(rows[0][1])
    for i in range(1, len(rows)):
        si = py_shingles(rows[i][1])
        true_j = len(s0 & si) / len(s0 | si)
        est = float((sigs[0] == sigs[i]).mean())
        # 128 components -> binomial sd ~ sqrt(J(1-J)/128) <= 0.045
        assert abs(est - true_j) < 0.15, (true_j, est)


def test_oph_empty_and_null_rows(spark, tiny_batches):
    from tests import oracle

    df = spark.createDataFrame(
        [(0, ["a b c d"]), (1, []), (2, None)]
        + [(i, [f"w{j}" for j in range(i % 13)]) for i in range(3, 24)],
        "record_id long, toks array<string>",
    ).repartition(2)
    feats = df.select(
        "record_id",
        F.transform("toks", lambda t: F.xxhash64(t)).alias("sh"),
    ).select(
        "record_id", "sh", oph_signature("sh", 8).alias("sig"),
    ).collect()
    got = {r.record_id: r.sig for r in feats}
    LM = (1 << 63) - 1
    assert got[1] == [LM] * 8
    assert got[2] == [LM] * 8
    assert got[0] != [LM] * 8 and len(got[0]) == 8
    for r in feats:
        assert r.sig == oracle.oph_row(r.sh, 8), r.record_id


def test_oph_power_of_two_required():
    with pytest.raises(ValueError):
        oph_signature("x", 100)
    with pytest.raises(ValueError):
        DedupConfig(columns=("t",), minhash_family="oph", num_perm=96, bands=32)
    with pytest.raises(ValueError):
        DedupConfig(columns=("t",), minhash_family="nope")


def test_oph_planted_recall_end_to_end(spark):
    """Full minhash pipeline with family='oph': planted near-dup
    pairs (19/20 unique tokens shared over an 80-token base) must
    still cluster — same planted-truth bar as the k-perm family."""
    rng = np.random.default_rng(11)
    words = [f"tok{i}" for i in range(500)]
    rows = []
    n = 600
    for i in range(0, n, 2):
        uniq = list(rng.choice(words, size=60, replace=False))
        rows.append((i, " ".join(uniq)))
        near = uniq.copy()
        near[17] = str(rng.choice(words))
        rows.append((i + 1, " ".join(near)))
    df = spark.createDataFrame(rows, "record_id long, text string").repartition(8)
    cfg = DedupConfig(columns=("text",), threshold=0.8, shingle_k=3,
                      num_perm=128, bands=32, minhash_family="oph")
    res = self_deduplicate(df, cfg, mode="minhash")
    try:
        fil = {r.record_id: r.exemplar_id for r in
               res.filtered.select("record_id", "exemplar_id").collect()}
        found = sum(
            1 for i in range(0, n, 2)
            if fil.get(i + 1) == i or fil.get(i) == i + 1
        )
        assert found >= 0.99 * (n // 2), (found, n // 2)
    finally:
        res.release()


def test_oph_deterministic_across_partitioning(spark):
    rows = [(i, f"alpha beta gamma delta {i % 7} epsilon zeta") for i in range(200)]
    a = _sig_map(spark, rows)
    df2 = spark.createDataFrame(rows, "record_id long, text string").repartition(13)
    feats2 = df2.select(
        "record_id", shingle_hashes("text", 3).alias("sh")
    ).select("record_id", oph_signature("sh", 128).alias("sig"))
    b = {r.record_id: np.array(r.sig, dtype=np.int64) for r in feats2.collect()}
    assert all(np.array_equal(a[k], b[k]) for k in a)
