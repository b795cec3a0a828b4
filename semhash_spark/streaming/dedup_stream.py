"""Incremental dedup over Structured Streaming.

The reference is batch-only (no streaming abstractions anywhere in
/root/reference/semhash/); this is the natural Spark extension:

* ``exact_dedup_stream`` — new records arrive on a stream and exact
  duplicates (same rendered record key) are dropped within a
  watermark window via ``dropDuplicatesWithinWatermark``: the
  streaming analogue of the exact stage.
* ``semantic_dedup_stream`` — each micro-batch is cross-deduplicated
  (exact + LSH/cosine, full ``deduplicate`` semantics) against a
  FITTED index via ``foreachBatch``; surviving rows append to the
  sink. This is the streaming analogue of the reference's
  train/test ``deduplicate`` (semhash/semhash.py:170-231) with the
  fitted side static and the query side unbounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from semhash_spark.operators.ids import exact_key


def exact_dedup_stream(
    stream_df: DataFrame,
    columns,
    event_time_col: str = "event_time",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Drop exact duplicates arriving within the watermark window."""
    keyed = stream_df.withColumn("exact_key", exact_key(columns, stream_df))
    return keyed.withWatermark(event_time_col, watermark).dropDuplicatesWithinWatermark(
        ["exact_key"]
    )


def semantic_dedup_stream(
    stream_df: DataFrame,
    fitted,
    sink_path: str,
    checkpoint_dir: str,
    threshold: float | None = None,
    query_name: str | None = None,
):
    """Cross-deduplicate a stream against a fitted ``SparkSemHash``.

    Every micro-batch runs the full batch ``deduplicate`` operator
    (exact split + LSH/cosine match against the fitted index);
    selected (non-duplicate) rows append to ``sink_path`` as parquet.
    The foreachBatch + checkpointLocation pairing gives exactly-once
    sink appends on restart. Returns the started StreamingQuery —
    callers drain with ``trigger(availableNow)`` upstream or
    ``awaitTermination``.

    At scale the fitted side stays persisted across micro-batches
    (``fitted._feats``), so each batch pays only the query-side
    featurize + band join — the reference benchmark's dedup-only
    cost shape (benchmarks/README.md:43-61).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = fitted.deduplicate(batch_df, threshold)
        res.selected.write.mode("append").parquet(sink_path)
        res.release()

    writer = (
        stream_df.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
    if query_name:
        writer = writer.queryName(query_name)
    return writer.start()
