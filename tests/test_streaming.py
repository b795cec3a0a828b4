"""Structured Streaming exact-dedup stage.

The reference is batch-only; this pins the streaming extension
(semhash_spark/streaming/dedup_stream.py): exact duplicates arriving
within the watermark are dropped, one micro-batch drained via
Trigger.AvailableNow into a memory sink.
"""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile
import uuid

from semhash_spark.streaming.dedup_stream import exact_dedup_stream


def test_exact_dedup_stream_drops_in_window_dups(spark):
    tmp = tempfile.mkdtemp(prefix="semhash_stream_")
    try:
        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
        rows = [
            (1, "alpha", t0),
            (2, "alpha", t0 + dt.timedelta(seconds=30)),   # dup of 1, in window
            (3, "beta", t0 + dt.timedelta(seconds=40)),
            (4, "beta", t0 + dt.timedelta(seconds=50)),    # dup of 3
            (5, "gamma", t0 + dt.timedelta(seconds=60)),
        ]
        df = spark.createDataFrame(rows, "event_id long, text string, event_time timestamp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)

        stream = (
            spark.readStream.schema("event_id long, text string, event_time timestamp")
            .parquet(tmp)
        )
        deduped = exact_dedup_stream(stream, ("text",), "event_time", "10 minutes")
        qname = "dedup_sink_" + uuid.uuid4().hex[:8]
        q = (
            deduped.writeStream.format("memory")
            .queryName(qname)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql(f"SELECT text FROM {qname}").collect()
        texts = sorted(r.text for r in out)
        assert texts == ["alpha", "beta", "gamma"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_semantic_dedup_stream_vs_fitted_index(spark):
    """foreachBatch cross-dedup against a fitted index (VERDICT r1
    #10): exact dup and near-dup of indexed rows are dropped; fresh
    rows survive to the parquet sink."""
    import os

    from semhash_spark.api import SparkSemHash
    from semhash_spark.config import DedupConfig
    from semhash_spark.streaming.dedup_stream import semantic_dedup_stream

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
            "omega one two three four five six")
    near = base.replace("four", "FOUR")  # 1 token of 30 -> jaccard ~0.9
    fresh1 = "totally different content with its own tokens here now ok"
    fresh2 = "another brand new record nothing shared with the index at all"

    cfg = DedupConfig(columns=("text",), threshold=0.8, shingle_k=3,
                      num_perm=64, bands=16)
    idx = spark.createDataFrame(
        [(0, base), (1, "second indexed doc full of its own words")],
        "record_id long, text string",
    )
    fitted = SparkSemHash(cfg, mode="minhash").fit(idx)

    tmp = tempfile.mkdtemp(prefix="semhash_semstream_")
    try:
        src, sink, ck = (os.path.join(tmp, d) for d in ("src", "sink", "ck"))
        stream_rows = [(100, base), (101, near), (102, fresh1), (103, fresh2)]
        spark.createDataFrame(stream_rows, "record_id long, text string") \
            .coalesce(1).write.parquet(src)
        stream = spark.readStream.schema("record_id long, text string").parquet(src)
        q = semantic_dedup_stream(stream, fitted, sink, ck)
        q.awaitTermination(180)
        out = sorted(r.record_id for r in spark.read.parquet(sink).collect())
        assert out == [102, 103]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
