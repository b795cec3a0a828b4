"""Resume-from-checkpoint (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

SURVEY §5 test 4: kill after stage k (simulated by deleting the
downstream checkpoint tables), re-run, assert the final output is
identical and the completed upstream stages were NOT recomputed
(their parquet mtimes are untouched; the metrics log records
``resumed: true``). The minhash stages are exact / features_minhash /
edges_minhash (LSH candidates verified inside the bucket generator)
/ clusters_minhash.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from semhash_spark import blob
from semhash_spark.config import DedupConfig
from semhash_spark.operators.dedup import self_deduplicate
from semhash_spark.plans.checkpoint import CheckpointManager
from semhash_spark.sources.corpus import generate_corpus


def _assignment(res):
    sel = {(r.record_id, r.record_id) for r in res.selected.select("record_id").collect()}
    fil = {(r.record_id, r.exemplar_id)
           for r in res.filtered.select("record_id", "exemplar_id").collect()}
    return sel | fil


def test_resume_from_partial_checkpoints(spark, monkeypatch):
    blobs: list = []
    write = blob.write_blob

    def counted_write(*args, **kwargs):
        ref = write(*args, **kwargs)
        blobs.append(ref)
        return ref

    monkeypatch.setattr(blob, "write_blob", counted_write)
    base = tempfile.mkdtemp(prefix="semhash_ckpt_")
    try:
        cfg = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                          num_perm=64, bands=16)
        corpus = generate_corpus(spark, 2000, partitions=8).persist()

        ck1 = CheckpointManager(spark, base)
        res1 = self_deduplicate(corpus, cfg, mode="minhash", checkpointer=ck1)
        truth = _assignment(res1)
        assert len(blobs) == 1 and blobs[0] is not None  # the fused edge stage ran

        # simulate a crash after the edge stage: the clustering table
        # vanishes, upstream survive
        shutil.rmtree(os.path.join(base, "clusters_minhash"))
        ck2 = CheckpointManager(spark, base)
        assert all(ck2.has(s) for s in ("exact", "features_minhash", "edges_minhash"))
        assert not ck2.has("clusters_minhash")

        upstream_mtime = {
            s: os.path.getmtime(os.path.join(base, s, "_SUCCESS"))
            for s in ("exact", "edges_minhash")
        }
        res2 = self_deduplicate(corpus, cfg, mode="minhash", checkpointer=ck2)
        assert _assignment(res2) == truth
        # completed stages were read back, not rebuilt: the edges came
        # from the table, so no LSH blob was written for them
        assert len(blobs) == 1
        for s, mtime in upstream_mtime.items():
            assert os.path.getmtime(os.path.join(base, s, "_SUCCESS")) == mtime

        with open(os.path.join(base, "_metrics.jsonl")) as f:
            events = [json.loads(line) for line in f]
        resumed = {e["stage"] for e in events if e.get("resumed")}
        assert {"exact", "features_minhash", "edges_minhash"} <= resumed
        rebuilt = {e["stage"] for e in events if not e.get("resumed") and "rows" in e}
        assert "clusters_minhash" in rebuilt
    finally:
        shutil.rmtree(base, ignore_errors=True)
