"""Executor-side blobs: exact f64 scores, the pack protocol under
faults, and blob lifetime.

* The fused cosine scan rescores its survivors from shards that keep
  the blob's source dtype, so ``array<double>`` embeddings get exact
  float64 scores (an f32 round trip of the index rows used to put them
  ~1e-8 off).
* ``_pack_sharded`` — the one executor pack protocol — reclaims locks
  of dead or stale owners and releases the lock of a failed builder.
* Every blob has one owner. Calls drop theirs before they return, a
  fit drops its own in ``release()``, and no result frame reads a
  blob: over repeated calls the blob and pack dirs stay flat, and
  released results still compute the same rows.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import threading
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from semhash_spark.api import SparkSemHash
from semhash_spark.config import DedupConfig
from semhash_spark.operators import dedup as dedup_ops
from semhash_spark.operators import verify as V

COS = DedupConfig(columns=("content",), threshold=0.75, embedding_dim=64,
                  embedding_ngram=2, rank_k=20)


# ------------------------------------------------ f64 fused-scan scores


def test_fused_scan_f64_scores_are_exact(spark):
    """array<double> edges and scores equal a numpy float64 reference."""
    rng = np.random.default_rng(8)
    centers = rng.standard_normal((20, 32))
    x = np.repeat(centers, 20, axis=0) + 0.1 * rng.standard_normal((400, 32))
    df = spark.createDataFrame(
        [(i, x[i].tolist()) for i in range(400)],
        "record_id long, embedding array<double>",
    ).repartition(4)
    got = sorted(tuple(r) for r in V.cosine_threshold_edges(df, 0.8).collect())

    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ xn.T
    a, b = np.nonzero(np.triu(sims >= 0.8, k=1))
    assert [(p, q) for p, q, _ in got] == sorted(zip(a.tolist(), b.tolist()))
    assert len(got) >= 3000
    ga = np.array([p for p, _, _ in got])
    gb = np.array([q for _, q, _ in got])
    want = np.einsum("ij,ij->i", xn[ga], xn[gb])
    assert np.max(np.abs(np.array([s for *_, s in got]) - want)) <= 1e-15


# ------------------------------------------------ pack protocol faults


@pytest.fixture
def small_blob(tmp_path):
    """A two-part (record_id, shingles) blob written without Spark."""
    path = tmp_path / f"packfault_{uuid.uuid4().hex[:12]}"
    path.mkdir()
    rows = {i: list(range(i, i + i % 4 + 1)) for i in range(30)}
    for k, ids in enumerate((range(0, 15), range(15, 30))):
        pq.write_table(pa.table({
            "record_id": pa.array(list(ids), pa.int64()),
            "shingles": pa.array([rows[i] for i in ids], pa.list_(pa.int64())),
        }), str(path / f"part-{k:05d}.parquet"))
    ref = {"tag": path.name, "path": str(path), "id_col": "record_id",
           "payload_col": "shingles"}
    yield ref, rows
    V.drop_blob(ref)


def _bounded(fn, secs: float = 60.0):
    """fn() on a daemon thread; fails instead of waiting out the
    protocol's 600 s deadline if the pack never completes."""
    out: dict = {}

    def run():
        try:
            out["value"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            out["error"] = e

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(secs)
    assert not t.is_alive(), "the pack did not complete"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _check_segments(pack, rows) -> None:
    ids_sorted, perm, row_shard, row_off, row_len, flats = pack
    assert np.asarray(ids_sorted).tolist() == sorted(rows)
    for i, rid in enumerate(np.asarray(ids_sorted)):
        r = int(perm[i])
        o, n = int(row_off[r]), int(row_len[r])
        assert np.asarray(flats[int(row_shard[r])][o:o + n]).tolist() == rows[int(rid)]


def _plant_locks(ref, pid: int, age: float = 0.0) -> list[str]:
    """Lock files held by ``pid`` on the first shard and the final
    pack of the blob's "seg" kind, ``age`` seconds old."""
    root = V._pack_root(ref["tag"])
    os.makedirs(root, exist_ok=True)
    locks = [os.path.join(root, f) for f in ("_shard_seg_0000.lock", "_final_seg.lock")]
    for lock in locks:
        with open(lock, "w") as fh:
            fh.write(str(pid))
        t = time.time() - age
        os.utime(lock, (t, t))
    return locks


def test_pack_reclaims_lock_of_dead_owner(small_blob):
    ref, rows = small_blob
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait()
    _plant_locks(ref, proc.pid)
    _check_segments(_bounded(lambda: V.load_feats_segments(ref)), rows)


def test_pack_reclaims_stale_lock_of_live_owner(small_blob):
    ref, rows = small_blob
    live = os.getppid()
    lock, _ = _plant_locks(ref, live)
    done = lock[: -len(".lock")] + ".done"
    assert not V._acquire_pack_lock(lock, done)  # a fresh live lock holds
    _plant_locks(ref, live, age=V._LOCK_STALE_SECS + 60)
    _check_segments(_bounded(lambda: V.load_feats_segments(ref)), rows)


def test_failed_builder_releases_its_lock(small_blob):
    ref, _ = small_blob

    def broken(path):
        raise RuntimeError("decode failed")

    def part(path):
        return [pq.read_table(path).column("record_id").to_numpy()]

    def final(shards):
        return [np.concatenate([s[0] for s in shards])]

    with pytest.raises(RuntimeError, match="decode failed"):
        V._pack_sharded(ref, "t", broken, final)
    root = V._pack_root(ref["tag"])
    assert not [f for f in os.listdir(root) if f.endswith(".lock")]
    (ids,), shards = _bounded(lambda: V._pack_sharded(ref, "t", part, final))
    assert np.asarray(ids).tolist() == list(range(30)) and len(shards) == 2


def test_write_blob_on_cluster_master_needs_blob_dir():
    """A non-local master without spark.semhash.blobDir fails at plan
    time, before any job runs or any dir is made."""

    class Conf:
        def get(self, key, default=None):
            return {"spark.master": "yarn"}.get(key, default)

    class Frame:
        class sparkSession:  # noqa: N801 - mirrors DataFrame.sparkSession
            conf = Conf()

    with pytest.raises(RuntimeError, match="spark.semhash.blobDir"):
        V.write_blob(Frame(), "record_id", "shingles", "t")


# ------------------------------------------------ blob lifetime


_BLOB_DIR = re.compile(r"^[a-z]+_[0-9a-f]{12}$")


def _scratch_counts() -> tuple[int, int]:
    """(blob dirs under the blob root, pack dirs in semhash_packed/)."""
    root = tempfile.gettempdir()
    blobs = sum(
        1 for e in os.listdir(root)
        if _BLOB_DIR.match(e) and os.path.isdir(os.path.join(root, e))
    )
    packed = os.path.join(root, "semhash_packed")
    return blobs, len(os.listdir(packed)) if os.path.isdir(packed) else 0


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def corpus(spark):
    from semhash_spark.sources.corpus import generate_corpus

    df = generate_corpus(spark, 200, seed=5).persist()
    df.count()
    yield df
    df.unpersist()


def test_cosine_fit_cycle_leaves_no_blobs(spark, corpus):
    """20 fit -> self_deduplicate -> outliers -> representatives ->
    release cycles: blob and pack dirs return to their count, and every
    result frame computes the same rows after both releases."""
    before = _scratch_counts()
    kept = []
    for _ in range(20):
        sh = SparkSemHash(COS, mode="cosine").fit(corpus)
        res = sh.self_deduplicate()
        fo = sh.self_filter_outliers(0.1)
        reps = sh.self_find_representative(5)
        frames = (res.selected.select("record_id"), res.filtered, res.pairs,
                  fo.selected, fo.filtered)
        kept.append((frames, [_rows(f) for f in frames]))
        res.release()
        fo.release()
        sh.release()
        assert reps[0] and _scratch_counts() == before
    assert len({repr(rows) for _, rows in kept}) == 1
    for frames, rows in kept:
        assert [_rows(f) for f in frames] == rows
    assert kept[0][1][2], "the corpus must have semantic duplicates"


def test_unfitted_cosine_calls_leave_no_blobs(spark, corpus):
    """20 unfitted cosine self_deduplicate and deduplicate calls each:
    every call drops its blobs before it returns, and released results
    still compute."""
    index = corpus.where(F.col("record_id") % 3 != 0)
    query = corpus.where(F.col("record_id") % 3 == 0)
    before = _scratch_counts()
    kept = []
    for _ in range(20):
        for res in (dedup_ops.self_deduplicate(corpus, COS, mode="cosine"),
                    dedup_ops.deduplicate(query, index, COS, mode="cosine")):
            assert _scratch_counts() == before
            frames = (res.selected.select("record_id"), res.filtered, res.pairs)
            kept.append((frames, [_rows(f) for f in frames]))
            res.release()
    assert len({repr(rows) for _, rows in kept[0::2]}) == 1
    assert len({repr(rows) for _, rows in kept[1::2]}) == 1
    for frames, rows in kept:
        assert [_rows(f) for f in frames] == rows
    assert kept[0][1][2] and kept[1][1][2]
