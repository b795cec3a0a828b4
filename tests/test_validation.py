"""Input-validation + identity parity with the reference error paths
(reference semhash/semhash.py:100-168, utils.py:127-153; VERDICT r1
missing #2/#3/#4, ADVICE ids item)."""

import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash
from semhash_spark.config import DedupConfig
from semhash_spark.operators.exact import self_exact_dedup
from semhash_spark.operators.ids import with_record_id


def test_fit_empty_records_raises(spark):
    df = spark.createDataFrame([], "record_id long, text string")
    with pytest.raises(ValueError, match="records must not be empty"):
        SparkSemHash(DedupConfig(columns=("text",))).fit(df)


def test_fit_missing_column_raises(spark):
    df = spark.createDataFrame([(1, "x")], "record_id long, body string")
    with pytest.raises(ValueError, match="missing declared column"):
        SparkSemHash(DedupConfig(columns=("text",))).fit(df)


def test_from_embeddings_ragged_raises(spark):
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "b", [1.0, 2.0, 3.0])],
        "record_id long, text string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="2D array"):
        SparkSemHash(DedupConfig(columns=("text",))).fit_embeddings(df)


def test_from_embeddings_null_raises(spark):
    df = spark.createDataFrame(
        [(1, "a", [1.0, 2.0]), (2, "b", None)],
        "record_id long, text string, embedding array<double>",
    )
    with pytest.raises(ValueError, match="must match number of records"):
        SparkSemHash(DedupConfig(columns=("text",))).fit_embeddings(df)


def test_from_embeddings_wrong_type_raises(spark):
    df = spark.createDataFrame([(1, "a", "oops")],
                               "record_id long, text string, embedding string")
    with pytest.raises(ValueError, match="array column"):
        SparkSemHash(DedupConfig(columns=("text",))).fit_embeddings(df)


def test_natural_key_ids_nonnegative_and_salted(spark):
    df = spark.createDataFrame(
        [(f"r{i}", f"p{i}", f"c{i}") for i in range(200)],
        "repo string, path string, commit string",
    )
    out = with_record_id(df, natural_key=["repo", "path", "commit"])
    ids = [r["record_id"] for r in out.collect()]
    assert all(i >= 0 for i in ids) and len(set(ids)) == 200
    salted = with_record_id(df, natural_key=["repo", "path", "commit"], salt=1)
    ids2 = [r["record_id"] for r in salted.collect()]
    assert all(i >= 0 for i in ids2) and len(set(ids2)) == 200
    assert set(ids) != set(ids2)  # salt re-seeds the family


def test_exact_key_complex_column(spark):
    # list-valued payload column keys via canonical JSON, matching the
    # reference's unhashable-value handling (datamodels.py:139-146)
    df = spark.createDataFrame(
        [(1, [1, 2]), (2, [1, 2]), (3, [2, 1])],
        "record_id long, tags array<int>",
    )
    keyed = self_exact_dedup(df, ("tags",), "record_id")
    groups = {r["record_id"]: r["exemplar_id"] for r in keyed.collect()}
    assert groups == {1: 1, 2: 1, 3: 3}  # [1,2]==[1,2], order-sensitive


def test_lcs_confirm_pair_cap(spark):
    from semhash_spark.operators.containment import lcs_confirm

    pairs = spark.createDataFrame([(1, 2, 0.9), (2, 3, 0.9)], "a long, b long, score double")
    content = spark.createDataFrame(
        [(i, "abc") for i in range(4)], "record_id long, content string"
    )
    with pytest.raises(ValueError, match="max_pairs"):
        lcs_confirm(pairs, content, max_pairs=1)
    assert lcs_confirm(pairs, content, min_frac=0.5, max_pairs=10).count() == 2


def test_dedup_result_release(spark, sf_dir):
    from semhash_spark.operators.dedup import self_deduplicate
    from semhash_spark.sources.tables import documents

    cfg = DedupConfig(columns=("text",), threshold=0.8, shingle_k=3)
    res = self_deduplicate(documents(spark, sf_dir), cfg, mode="minhash")
    res.selected.count()
    assert len(res._persisted) >= 2
    assert any(df.storageLevel.useMemory for df in res._persisted)
    res.release()
    assert res._persisted == []


def test_fitted_release_unpersists_all_caches(spark):
    """SparkSemHash.release() drops every cache the fit owns,
    including the lazily-built cross-dedup key/band memos."""
    from semhash_spark.api import SparkSemHash
    from semhash_spark.config import DedupConfig

    df = spark.createDataFrame(
        [(i, f"text number {i} with words") for i in range(20)],
        "record_id long, text string",
    )
    sh = SparkSemHash(DedupConfig(columns=("text",), threshold=0.8)).fit(df)
    res = sh.deduplicate(df.where("record_id >= 15"))
    res.selected.count()
    res.release()
    cached = [sh._keyed, sh._feats, sh._idx_keys, sh._idx_bands]
    assert all(c is not None and c.is_cached for c in cached)
    sh.release()
    assert not sh._keyed.is_cached and not sh._feats.is_cached
    assert sh._idx_keys is None and sh._idx_bands is None
    # still usable after release (recomputes)
    res2 = sh.deduplicate(df.where("record_id >= 15"))
    assert res2.selected.count() + res2.filtered.count() == 5
    res2.release()
