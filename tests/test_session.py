"""Session-level behaviour: the Python workers' zip import caches
(``semhash_spark._pyworker``) and the status store's bound."""

from __future__ import annotations

import importlib
import sys
import time
import zipfile
import zipimport

from semhash_spark import _pyworker
from semhash_spark.session import STATUS_RETAINED


def _write_module(archive, source: str) -> None:
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("m.py", source)


def test_unchanged_archive_keeps_its_directory(tmp_path, monkeypatch):
    """No Spark: the wrapper re-reads an archive's directory only after
    the archive changed, and the importer then sees the new contents."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        _pyworker._stat_checked)
    archive = str(tmp_path / "mods.zip")
    _write_module(archive, "V = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    assert importlib.import_module("m").V == 1
    del sys.modules["m"]
    importlib.invalidate_caches()  # stamps the importer

    reads = []
    read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    importlib.invalidate_caches()
    assert archive not in reads

    _write_module(archive, "V = 22\n")  # a different size
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("m").V == 22
    del sys.modules["m"]

    # an archive that cannot be stat-ed is re-read (and found gone)
    (tmp_path / "mods.zip").unlink()
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    assert sys.path_importer_cache[archive]._files == {}


def test_worker_wrapper_installed_after_a_library_task(spark):
    """A worker that ran a library task keeps the wrapper for its next
    tasks; the driver keeps CPython's ``invalidate_caches``."""
    from semhash_spark.operators.lsh import candidate_pairs_self

    bands = spark.createDataFrame(
        [(0, 7, i) for i in range(6)],
        "band_idx int, band_hash long, record_id long")
    assert candidate_pairs_self(bands, 1000, "record_id").count() == 15

    def report(batches):
        import zipimport as zi

        import pyarrow as pa

        for _ in batches:
            pass
        live = zi.zipimporter.invalidate_caches.__module__ != "zipimport"
        yield pa.RecordBatch.from_pydict({
            "library": ["semhash_spark" in sys.modules], "live": [live]})

    # more tasks than slots, so they cycle through the idle workers
    rows = spark.range(0, 16, 1, 16).mapInArrow(
        report, "library boolean, live boolean").collect()
    assert any(r.library for r in rows)
    assert all(r.live == r.library for r in rows)
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_status_store_is_bounded(spark):
    """More jobs than the bound leave at most the bound of jobs, stages
    and SQL executions in the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "status_store_bound"
    sc.setJobGroup(group, group)
    try:
        for _ in range(STATUS_RETAINED + 20):
            spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    last_stage = max(tracker.getJobInfo(
        max(tracker.getJobIdsForGroup(group))).stageIds)
    store = spark._jsparkSession.sharedState().statusStore()
    # the store drops old entries on a background thread
    deadline = time.monotonic() + 30
    while True:
        jobs = len(tracker.getJobIdsForGroup(group))
        stages = sum(tracker.getStageInfo(s) is not None
                     for s in range(last_stage + 1))
        executions = store.executionsCount()
        if max(jobs, stages, executions) <= STATUS_RETAINED \
                or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert jobs <= STATUS_RETAINED
    assert stages <= STATUS_RETAINED
    assert executions <= STATUS_RETAINED
