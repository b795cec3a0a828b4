#!/usr/bin/env python
"""spark-submit entry point for the dedup pipeline.

North-rule surface: the job runs via

    zip -r semhash_spark.zip semhash_spark
    spark-submit --py-files semhash_spark.zip jobs/dedup_job.py \
        --input  /data/corpus            \
        --output /data/dedup_run1        \
        --columns content --threshold 0.8 --mode minhash \
        --checkpoint-dir /data/dedup_run1/_stages

On a cluster, --master/--num-executors etc. come from spark-submit;
locally the session factory falls back to local[$SPARK_GRAFT_CPUS].
The run writes three parquet outputs under --output (selected/,
filtered/, stats/) plus per-stage checkpoint tables and
_metrics.jsonl lineage under --checkpoint-dir; a re-run with the
same --checkpoint-dir resumes from the last complete stage.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None, stop_spark: bool = True) -> dict:
    """``argv``/``stop_spark`` let tests drive the job path in-process
    (two successive --incremental batches against one SparkSession);
    spark-submit uses the defaults. Returns the summary dict it
    prints."""
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True, help="parquet/iceberg path of the corpus")
    p.add_argument("--output", required=True, help="output directory")
    p.add_argument("--columns", nargs="+", default=["content"])
    p.add_argument("--id-col", default=None,
                   help="existing unique long id column (default: derive)")
    p.add_argument("--natural-key", nargs="+", default=None,
                   help="columns uniquely identifying a row (e.g. repo path "
                        "commit); derives collision-checked xxhash64 ids "
                        "without any sort/shuffle")
    p.add_argument("--id-salt", default=None,
                   help="re-seed the natural-key id hash (collision recovery)")
    p.add_argument("--threshold", type=float, default=0.8)
    p.add_argument("--mode", default="minhash",
                   choices=["minhash", "simhash", "cosine", "jaccard_exact"])
    p.add_argument("--shingle-k", type=int, default=5)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--bucket-cap", type=int, default=200)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--with-containment", action="store_true",
                   help="also run the winnowing containment stage")
    p.add_argument("--anchor-policy", default="mod", choices=["mod", "winnow"],
                   help="containment anchor selection: 0-mod-p sampling or "
                        "true SIGMOD'03 winnowing (winnow also computes the "
                        "positional shingle sequence for the strict "
                        "shared-run guarantee)")
    p.add_argument("--hygiene", action="store_true",
                   help="pre-filter the input with the C4/Gopher-style "
                        "hygiene rules (functions/text.py:hygiene_flags) "
                        "before dedup; rules are evaluated on the FIRST "
                        "--columns entry only; dropped rows land in "
                        "<output>/hygiene_dropped")
    p.add_argument("--against", default=None,
                   help="parquet path of a reference/index corpus: runs "
                        "CROSS dedup (--input queried against it, "
                        "existential semantics) instead of self dedup")
    p.add_argument("--broadcast-query", action="store_true",
                   help="cross mode: broadcast the query band table "
                        "(small query batch vs huge index)")
    p.add_argument("--incremental", metavar="CORPUS_TABLE",
                   default=None,
                   help="incremental ingest: dedup --input against the "
                        "bucketed catalog table CORPUS_TABLE (the stored "
                        "cumulative selected corpus), then within itself, "
                        "and APPEND the genuinely-new rows to the table "
                        "(sources/bucketed.py — id-bucketed so the cross "
                        "joins co-locate without an Exchange). First run "
                        "(table absent) self-dedups the batch and creates "
                        "the table")
    p.add_argument("--corpus-buckets", type=int, default=64,
                   help="bucket count when --incremental creates the table")
    args = p.parse_args(argv)

    # flag-compatibility checks BEFORE any Spark work: the containment
    # stage below runs its pair-volume estimate eagerly, so rejecting
    # bad combinations late would burn a full corpus shingle+anchor
    # pass first
    if args.incremental and (args.with_containment or args.checkpoint_dir
                             or args.against):
        p.error("--incremental is incompatible with --with-containment, "
                "--checkpoint-dir and --against")
    if args.against and args.with_containment:
        p.error("--with-containment applies to self dedup only "
                "(cross mode has no clustering to feed edges into)")
    if args.against and args.checkpoint_dir:
        p.error("--checkpoint-dir is not supported with --against "
                "(cross-mode checkpointing is not wired)")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from semhash_spark.config import DedupConfig
    from semhash_spark.operators.dedup import self_deduplicate
    from semhash_spark.operators.ids import with_record_id
    from semhash_spark.plans.checkpoint import CheckpointManager

    spark = SparkSession.builder.appName("semhash_spark_dedup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cfg = DedupConfig(
        columns=tuple(args.columns), threshold=args.threshold,
        shingle_k=args.shingle_k, num_perm=args.num_perm, bands=args.bands,
        bucket_cap=args.bucket_cap,
    )
    df = spark.read.parquet(args.input)
    if "record_id" not in df.columns:
        if args.id_col:
            df = with_record_id(df, existing=args.id_col)
        elif args.natural_key:
            df = with_record_id(df, natural_key=args.natural_key, salt=args.id_salt)
        else:
            df = with_record_id(df, order_cols=list(args.columns))

    n_hygiene_dropped = 0
    hygiene_flagged = None
    if args.hygiene:
        from semhash_spark.functions.text import hygiene_flags

        # rules run on the FIRST --columns entry (see --hygiene help).
        # persist: the dropped write, the dropped count and the kept-
        # side dedup are three actions over this frame — without the
        # cache each would re-evaluate the rule expressions over the
        # full input (ADVICE r3)
        hygiene_flagged = df.withColumn(
            "_h", hygiene_flags(args.columns[0])
        ).persist()
        dropped = hygiene_flagged.where(~F.col("_h.keep"))
        dropped.write.mode("overwrite").parquet(
            os.path.join(args.output, "hygiene_dropped"))
        # count the parquet just written instead of re-running the
        # dropped-side filter as a third action
        n_hygiene_dropped = spark.read.parquet(
            os.path.join(args.output, "hygiene_dropped")).count()
        df = hygiene_flagged.where(F.col("_h.keep")).drop("_h")

    ck = CheckpointManager(spark, args.checkpoint_dir) if args.checkpoint_dir else None
    extra = None
    if args.with_containment:
        from semhash_spark.functions.hashing import (
            shingle_hashes,
            shingle_hashes_positional,
        )
        from semhash_spark.operators.containment import containment_edges

        feat_cols = [
            F.col("record_id"),
            shingle_hashes(args.columns[0], args.shingle_k).alias("shingles"),
        ]
        if args.anchor_policy == "winnow":
            feat_cols.append(
                shingle_hashes_positional(args.columns[0], args.shingle_k)
                .alias("shingles_pos")
            )
        feats = df.select(*feat_cols)
        extra = containment_edges(
            feats, cfg.with_(anchor_policy=args.anchor_policy), "record_id"
        )

    t0 = time.time()
    if args.incremental:
        from semhash_spark.operators.dedup import incremental_deduplicate
        from semhash_spark.sources.bucketed import read_bucketed, write_bucketed

        table = args.incremental
        corpus_existed = spark.catalog.tableExists(table)
        if corpus_existed:
            stored = read_bucketed(spark, table)
            res = incremental_deduplicate(
                df, stored, cfg, mode=args.mode,
                broadcast_query=args.broadcast_query,
            )
        else:
            # first batch: nothing stored yet — plain self dedup seeds
            # the corpus table
            res = self_deduplicate(df, cfg, mode=args.mode)
    elif args.against:
        # (flag compatibility was rejected right after parse_args:
        # containment feeds extra edges into self-mode CLUSTERING and
        # the checkpoint stages are the self-pipeline's; neither is
        # wired for the existential cross path)
        from semhash_spark.api import SparkSemHash

        idx = spark.read.parquet(args.against)
        if "record_id" not in idx.columns:
            if args.id_col:
                idx = with_record_id(idx, existing=args.id_col)
            elif args.natural_key:
                idx = with_record_id(idx, natural_key=args.natural_key,
                                     salt=args.id_salt)
            else:
                idx = with_record_id(idx, order_cols=list(args.columns))
        sh = SparkSemHash(cfg, mode=args.mode).fit(idx)
        res = sh.deduplicate(df, broadcast_query=args.broadcast_query)
    else:
        res = self_deduplicate(df, cfg, mode=args.mode, checkpointer=ck,
                               extra_edges=extra)
    res.selected.write.mode("overwrite").parquet(os.path.join(args.output, "selected"))
    res.filtered.write.mode("overwrite").parquet(os.path.join(args.output, "filtered"))
    res.stats_df().write.mode("overwrite").parquet(os.path.join(args.output, "stats"))
    # counts from the WRITTEN outputs, not the live plan: in
    # --incremental mode the plan reads the corpus table that the
    # append below grows, so re-executing res.counts() afterwards
    # would double-count the batch against its own appended rows
    sel_out = spark.read.parquet(os.path.join(args.output, "selected"))
    fil_out = spark.read.parquet(os.path.join(args.output, "filtered"))
    n_sel = sel_out.count()
    fil_row = fil_out.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.when(F.col("exact"), 1).otherwise(0)), F.lit(0)).alias("ne"),
    ).collect()[0]
    n_fil, n_exact = int(fil_row["n"]), int(fil_row["ne"])
    if args.incremental:
        from semhash_spark.sources.bucketed import write_bucketed

        # append the genuinely-new rows; reading them back from the
        # parquet just written keeps the append's lineage independent
        # of the corpus table the dedup plan read from. Same bucket
        # spec as the existing table so the next batch's cross joins
        # stay Exchange-free on the stored side.
        new_rows = spark.read.parquet(
            os.path.join(args.output, "selected")).select(*df.columns)
        write_bucketed(
            new_rows, args.incremental, buckets=args.corpus_buckets,
            mode="append" if corpus_existed else "overwrite",
        )
    summary = {
        "n_selected": n_sel, "n_filtered": n_fil, "n_exact": n_exact,
        "n_hygiene_dropped": n_hygiene_dropped,
        "seconds": round(time.time() - t0, 2),
        "files_per_sec": round((n_sel + n_fil) / max(time.time() - t0, 1e-9), 1),
    }
    print(json.dumps(summary))
    res.release()
    if hygiene_flagged is not None:
        hygiene_flagged.unpersist()
    if stop_spark:
        spark.stop()
    return summary


if __name__ == "__main__":
    main()
