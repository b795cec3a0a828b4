"""Robustness regressions: NULL feature rows and the Spark 4.1
CollapseProject/Python-UDF extraction hazard (ADVICE round 1)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.functions.hashing import _LONG_MAX, minhash_signature, simhash64
from semhash_spark.functions.vectors import hyperplane_bands
from semhash_spark.operators.dedup import add_features
from tests import oracle


def _shingle_rows():
    """NULL, empty and one-element shingle sets among random ones."""
    rng = np.random.default_rng(4)
    rows = [(1, [1, 2, 3]), (2, None), (3, []), (4, [-7])]
    for i in range(5, 30):
        n = int(rng.integers(0, 40))
        rows.append((i, None if i % 9 == 0 else
                     [int(v) for v in rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64)]))
    return rows


def test_minhash_simhash_null_rows(spark, tiny_batches):
    rows = _shingle_rows()
    df = spark.createDataFrame(rows, "id long, shingles array<long>").repartition(2)
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            minhash_signature("shingles", 4).alias("sig"),
            simhash64("shingles").alias("sim"),
        ).collect()
    }
    # null and empty behave identically: sentinel signature, zero print
    assert got[2]["sig"] == [_LONG_MAX] * 4 == got[3]["sig"]
    assert got[2]["sim"] == 0 == got[3]["sim"]
    assert got[1]["sig"] != got[2]["sig"]
    for i, sh in rows:
        assert got[i]["sig"] == oracle.minhash_row(sh, 4), i
        assert got[i]["sim"] == oracle.simhash_row(sh), i
    one = spark.createDataFrame([(1, [5, 6])], "id long, shingles array<long>")
    assert one.select(minhash_signature("shingles", 4)).first()[0] == \
        oracle.minhash_row([5, 6], 4)


def test_hyperplane_null_rows(spark, tiny_batches):
    rng = np.random.default_rng(8)
    rows = [(1, [0.5] * 8), (2, None), (3, []), (4, [0.0] * 8)]
    rows += [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(5, 25)]
    df = spark.createDataFrame(rows, "id long, e array<float>").repartition(2)
    got = {
        r["id"]: r["b"]
        for r in df.select(
            "id", hyperplane_bands("e", 8, 2, 42, 8).alias("b")
        ).collect()
    }
    assert got[2] == []  # null -> no bands -> no candidates
    assert len(got[1]) == 2
    for i, v in rows:
        # float32 values, as the column holds them
        v32 = None if v is None else np.float32(v).tolist()
        assert got[i] == oracle.hyperplane_row(v32, 8, 2, 42, 8), i


def test_vector_udfs_at_the_arrow_boundary(spark, tiny_batches):
    """cosine_similarity and the encoder UDF on NULL, empty, zero-norm
    and single-row input, in 7-row batches, against numpy."""
    from semhash_spark.functions.encoder import embed_udf, encode_texts
    from semhash_spark.functions.vectors import cosine_similarity

    rng = np.random.default_rng(9)
    vec = [[float(x) for x in rng.standard_normal(6)] for _ in range(20)]
    rows = [(0, None, vec[0], None), (1, [], [], ""), (2, [0.0] * 6, vec[1], "a"),
            (3, vec[2], None, "b b c")]
    rows += [(i, vec[i], vec[i - 1], f"t{i} x y") for i in range(4, 20)]
    df = spark.createDataFrame(
        rows, "id long, e array<double>, f array<double>, t string").repartition(3)
    got = {r["id"]: r for r in df.select(
        "id", cosine_similarity("e", "f").alias("c"),
        embed_udf(8)("t").alias("emb")).collect()}
    for i, e, f, t in rows:
        want = oracle.cosine_row(e, f)
        if want is None:
            assert got[i]["c"] is None, i
        else:
            assert got[i]["c"] == pytest.approx(want, abs=1e-12), i
        assert got[i]["emb"] == encode_texts([t or ""], 8)[0].tolist(), i
    one = spark.createDataFrame([([1.0, 2.0], [2.0, 4.0])], "e array<double>, f array<double>")
    assert one.select(cosine_similarity("e", "f")).first()[0] == pytest.approx(1.0)


def test_add_features_survives_projection_drop(spark):
    """Selecting only (id, sig) after add_features must not hit the
    CollapseProject lambda-inline INTERNAL_ERROR."""
    cfg = DedupConfig(columns=("content",), shingle_k=3, num_perm=16, bands=4)
    src = spark.createDataFrame(
        [(i, "a b c d e f g h") for i in range(10)],
        "record_id long, content string",
    )
    out = add_features(src, cfg, "minhash").select("record_id", "sig").collect()
    assert len(out) == 10
    assert all(len(r["sig"]) == 16 for r in out)
    out2 = add_features(src, cfg, "simhash").select("record_id", "sim64").collect()
    assert len(out2) == 10


def test_encoder_vectorized_parity():
    """bincount accumulation must match the per-token definition."""
    from semhash_spark.functions.encoder import _token_hash, encode_texts

    texts = ["a b c a", "", "xyz", "a " * 50]
    dim = 16
    ref = np.zeros((len(texts), dim))
    for i, t in enumerate(texts):
        for tok in t.split():
            h = _token_hash(tok)
            ref[i, h % dim] += 1.0 if (h >> 8) & 1 else -1.0
    n = np.linalg.norm(ref, axis=1, keepdims=True)
    ref = np.divide(ref, n, out=np.zeros_like(ref), where=n > 0).astype(np.float32)
    assert np.array_equal(encode_texts(texts, dim), ref)
