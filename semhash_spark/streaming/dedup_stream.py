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
from pyspark.sql import functions as F

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


def windowed_dup_counts(
    stream_df: DataFrame,
    columns,
    event_time_col: str = "event_time",
    watermark: str = "10 minutes",
    window: str = "5 minutes",
) -> DataFrame:
    """Per-window duplicate-group counts (monitoring surface)."""
    keyed = stream_df.withColumn("exact_key", exact_key(columns, stream_df))
    return (
        keyed.withWatermark(event_time_col, watermark)
        .groupBy(F.window(event_time_col, window), "exact_key")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )


def stateful_neardup_stream(
    stream_df: DataFrame,
    cfg,
    id_col: str = "record_id",
    state_cap: int = 64,
    ttl_minutes: int | None = None,
) -> DataFrame:
    """Streaming SELF near-dup detection with per-LSH-bucket state
    (``applyInPandasWithState``) — first-wins across micro-batches.

    The batch pipeline's band table becomes the state key: each
    record's MinHash signature is exploded into ``cfg.bands`` band
    rows, grouped by (band_idx, band_hash), and each bucket keeps up
    to ``state_cap`` (id, signature) entries of the records it has
    seen — the streaming analogue of the batch ``bucket_cap`` skew
    guard (a boilerplate bucket's state is bounded, extra members
    still match against the stored head). An arriving record is
    scored against its bucket's stored signatures with the unbiased
    MinHash estimate ``est_J = |equal components| / num_perm``
    (Broder; the batch path verifies with EXACT Jaccard — a stream
    cannot keep shingle sets in state, so the estimator is the
    documented tradeoff) and emits one verdict row per band:

        (record_id, matched_id nullable, est_score, band_idx)

    A record is a duplicate iff ANY band emitted a non-null match —
    reduce with ``reduce_neardup_verdicts`` (stateless, can run
    inside the same query's ``foreachBatch``). In-batch rows are
    processed in ascending id order, so within a micro-batch the
    verdicts reproduce the batch greedy first-wins semantics; across
    batches arrival order wins (streaming semantics).

    ``ttl_minutes`` arms a per-bucket processing-time timeout that
    clears idle buckets (state eviction at 10^12-file scale; without
    it state grows with distinct buckets seen).

    Scale: state lives in the state store partitioned by the band
    key — the same key the batch plan shuffles on; no executor ever
    holds more than its partitions' buckets x ``state_cap`` sigs.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from semhash_spark.operators.dedup import add_features
    from semhash_spark.operators.lsh import band_table

    num_perm = cfg.num_perm
    threshold = cfg.threshold

    # tokenless records (empty shingle set -> all-sentinel signature)
    # must not enter banding: their identical signatures would funnel
    # every empty/whitespace-only record into one hot state bucket per
    # band AND report est=1.0 false matches — same pruning as the
    # batch paths (dedup.mode_bands)
    feats = (
        add_features(stream_df, cfg, "minhash")
        .where(F.size("shingles") > 0)
        .select(id_col, "sig")
    )
    banded = band_table(
        feats, "sig", cfg.bands, id_col, cfg.rows_per_band, keep=("sig",)
    )

    def match(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids_st, flat_st = state.get
            ids_st = list(ids_st)
            sigs_st = [
                np.asarray(flat_st[i * num_perm : (i + 1) * num_perm], dtype=np.int64)
                for i in range(len(ids_st))
            ]
        else:
            ids_st, sigs_st = [], []
        out_ids, out_matched, out_scores = [], [], []
        # concatenate ALL Arrow chunks before sorting: a bucket whose
        # micro-batch spans multiple chunks (>maxRecordsPerBatch) must
        # still process in globally ascending id order for the batch
        # greedy first-wins reproduction to hold
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            pdf = pdf.sort_values(id_col, kind="mergesort")
            for rid, sig in zip(pdf[id_col].to_numpy(), pdf["sig"].to_numpy()):
                sig = np.asarray(sig, dtype=np.int64)
                matched, best = None, 0.0
                if sigs_st:
                    m = np.vstack(sigs_st)
                    est = (m == sig[None, :]).mean(axis=1)
                    j = int(np.argmax(est))
                    if est[j] >= threshold:
                        matched, best = int(ids_st[j]), float(est[j])
                out_ids.append(int(rid))
                out_matched.append(matched)
                out_scores.append(best)
                if matched is None and len(ids_st) < state_cap:
                    ids_st.append(int(rid))
                    sigs_st.append(sig)
        if ids_st:
            flat = np.concatenate(sigs_st).tolist() if sigs_st else []
            state.update((ids_st, flat))
            if ttl_minutes is not None:
                state.setTimeoutDuration(ttl_minutes * 60 * 1000)
        if out_ids:
            yield pd.DataFrame(
                {
                    id_col: out_ids,
                    "matched_id": pd.array(out_matched, dtype="Int64"),
                    "est_score": out_scores,
                    "band_idx": key[0],
                }
            )

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if ttl_minutes is not None
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band_idx", "band_hash").applyInPandasWithState(
        match,
        outputStructType=f"{id_col} long, matched_id long, est_score double, band_idx int",
        stateStructType="ids array<long>, sigs array<long>",
        outputMode="append",
        timeoutConf=timeout,
    )


def reduce_neardup_verdicts(verdicts: DataFrame, id_col: str = "record_id") -> DataFrame:
    """Per-record reduction of the per-band verdict stream:
    (record_id, is_dup, matched_id, est_score) — duplicate iff any
    band matched; ties keep the best-estimate match. Stateless
    (plain groupBy) — run on a batch DataFrame (e.g. inside
    foreachBatch, or on the collected memory-sink table)."""
    return verdicts.groupBy(id_col).agg(
        F.max(F.col("matched_id").isNotNull()).alias("is_dup"),
        F.max_by("matched_id", F.coalesce("est_score", F.lit(-1.0))).alias("matched_id"),
        F.max("est_score").alias("est_score"),
    )
