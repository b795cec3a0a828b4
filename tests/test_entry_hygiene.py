"""Harness cache hygiene (VERDICT r3 #5): the __spark_entry__ query
helpers persist shared frames (doc features, signature tables, the
memoized flagship dedup result); release_caches() must drop every one
of them so a queries() sweep leaves no persisted RDDs behind."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def test_release_caches_drops_query_persists(spark):
    import __spark_entry__ as entry

    before = _persistent_ids(spark)
    sf = "/root/testdata/sf0.001"
    # exercise the three caching helpers: _doc_feats, the sha simhash
    # pair, and the memoized self-dedup result
    entry.queries()["jaccard3_pairs"](spark, sf).count()
    entry.queries()["simhash_pairs"](spark, sf).count()
    entry.queries()["selfdedup_stats"](spark, sf).count()
    assert len(_persistent_ids(spark) - before) > 0, "helpers cached nothing"
    entry.release_caches()
    leaked = _persistent_ids(spark) - before
    assert not leaked, f"persisted RDDs leaked after release_caches: {leaked}"


def test_release_caches_removes_job_export_dirs(spark, sf_dir):
    """q_job_export writes the job's parquet outputs to a fresh temp dir
    that its returned frame reads lazily; release_caches() removes it."""
    import os
    import tempfile

    import __spark_entry__ as entry

    def export_dirs() -> set[str]:
        root = tempfile.gettempdir()
        return {e for e in os.listdir(root) if e.startswith("semhash_job_export_")}

    before = export_dirs()
    assert entry.queries()["job_export"](spark, sf_dir).count() > 0
    assert export_dirs() - before, "the export wrote no output dir"
    entry.release_caches()
    assert export_dirs() - before == set()
