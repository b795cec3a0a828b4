"""Spark jobs per self-dedup pass, counted per job group with the status
tracker. Below the driver caps the edges reach the driver once and the
results are assembled there (one join per result frame), and a fit's
held self ranking is sliced on the driver, so a pass runs few jobs.
These bounds keep re-joins and ranking jobs from coming back unseen."""

from __future__ import annotations

import pytest

from semhash_spark.config import DedupConfig

COS = DedupConfig(columns=("content",), threshold=0.75, embedding_dim=64,
                  embedding_ngram=2, rank_k=20)
MINHASH = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                      num_perm=64, bands=16)

# the counts this plan reaches on the corpus below (4 local cores, 8
# shuffle partitions); the same passes ran 29 and 26 jobs when the
# results were re-joined in Spark and the ranking was cut by
# distributed selection
COSINE_PASS_MAX_JOBS = 18
MINHASH_PASS_MAX_JOBS = 19


@pytest.fixture(scope="module")
def corpus(spark):
    from semhash_spark.sources.corpus import generate_corpus

    df = generate_corpus(spark, 300, seed=3).persist()
    df.count()
    yield df
    df.unpersist()


def _jobs(spark, group: str, run) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fitted_cosine_pass_jobs(spark, corpus):
    from semhash_spark.api import SparkSemHash

    def run():
        sh = SparkSemHash(COS, mode="cosine").fit(corpus)
        res = sh.self_deduplicate()
        res.selected.count()
        res.filtered.select("record_id", "exemplar_id", "exact").toPandas()
        fo = sh.self_filter_outliers(0.1)
        fo.selected.count()
        fo.filtered.select("query_id").toPandas()
        sh.self_find_representative(10)
        fo.release()
        res.release()
        sh.release()

    assert _jobs(spark, "jobcount-cosine", run) <= COSINE_PASS_MAX_JOBS


def test_minhash_containment_pass_jobs(spark, corpus):
    from pyspark.sql import functions as F

    from semhash_spark.functions.hashing import shingle_hashes
    from semhash_spark.operators.containment import containment_edges
    from semhash_spark.operators.dedup import self_deduplicate

    def run():
        feats = corpus.select("record_id",
                              shingle_hashes("content", MINHASH.shingle_k).alias("shingles"))
        extra = containment_edges(feats, MINHASH, "record_id")
        res = self_deduplicate(corpus, MINHASH, mode="minhash", extra_edges=extra)
        res.selected.count()
        res.filtered.select("record_id", "exemplar_id", "exact").toPandas()
        res.pairs.where(~F.col("exact")).toPandas()
        res.release()

    assert _jobs(spark, "jobcount-minhash", run) <= MINHASH_PASS_MAX_JOBS
