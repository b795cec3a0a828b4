#!/usr/bin/env python
"""Dump .explain('formatted') for the round-6 optimized query paths.

Usage: PYTHONPATH=<tree> python tools/dump_plans.py <out_dir> <tag>
Run once with PYTHONPATH at the round-start tree (tag 'before') and
once at HEAD (tag 'after'); the judge diffs the plan shapes."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

OUT = sys.argv[1]
TAG = sys.argv[2]
os.makedirs(OUT, exist_ok=True)

from pyspark.sql import functions as F  # noqa: E402

from semhash_spark.blob import drop_blob, write_blob  # noqa: E402
from semhash_spark.config import DedupConfig  # noqa: E402
from semhash_spark.operators.dedup import add_features, deduplicate  # noqa: E402
from semhash_spark.operators.exact import self_exact_dedup  # noqa: E402
from semhash_spark.operators.lsh import band_table, candidate_pairs_self  # noqa: E402
from semhash_spark.operators.rank import (  # noqa: E402
    cosine_self_scan,
    rank_by_avg_similarity,
)
from semhash_spark.operators.verify import cosine_threshold_edges  # noqa: E402
from semhash_spark.session import get_spark  # noqa: E402
from semhash_spark.sources.corpus import generate_corpus  # noqa: E402


def dump(name: str, df) -> None:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    with open(os.path.join(OUT, f"{name}_{TAG}.txt"), "w") as fh:
        fh.write(buf.getvalue())
    print(f"wrote {name}_{TAG}.txt", file=sys.stderr)


def dump_verified(name: str, bands, sets, cap: int, metric: str, threshold: float) -> None:
    """Dump the in-generator verification plan that
    ``lsh.verified_edges_self`` detaches (its blob only has to exist
    while the plan is built)."""
    ref = write_blob(sets.select("record_id", "shingles"), "record_id", "shingles", name)
    try:
        dump(name, candidate_pairs_self(bands, cap, "record_id", pack=ref,
                                        metric=metric, threshold=threshold))
    finally:
        drop_blob(ref)


def main() -> None:
    spark = get_spark("dump_plans", cores=4, shuffle_partitions=8)
    corpus = generate_corpus(spark, 2000).persist()
    corpus.count()

    code_cfg = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                           num_perm=128, bands=32)
    keyed = self_exact_dedup(corpus, code_cfg.columns, "record_id")
    dump("exact_stage", keyed)
    try:
        dump("exact_stage_nokey",
             self_exact_dedup(corpus, code_cfg.columns, "record_id",
                              with_key=False))
    except TypeError:
        pass  # round-start tree: no with_key parameter
    exemplars = keyed.where(~F.col("is_exact_dup"))
    feats = add_features(exemplars, code_cfg, "minhash").select(
        "record_id", "shingles", "sig").persist()
    feats.count()
    bt = band_table(feats.where(F.size("shingles") > 0), "sig",
                    code_cfg.bands, "record_id", code_cfg.rows_per_band)
    dump_verified("selfdedup_edges", bt, feats.where(F.size("shingles") > 0),
                  code_cfg.bucket_cap, "jaccard", 0.8)

    cos_cfg = DedupConfig(columns=("content",), threshold=0.75,
                          embedding_dim=128, embedding_ngram=2)
    cfeats = add_features(exemplars, cos_cfg, "cosine").select(
        "record_id", "embedding").persist()
    cfeats.count()
    # the blob-reading plans, before they are detached: given a written
    # blob, the operators return their lazy frames (as they do for a
    # fit). The fitted cosine surfaces' one scan (edges + top-k
    # averages) and the kernel-averaged ranking follow the edges.
    cref = write_blob(cfeats, "record_id", "embedding", "dumpscan")
    dump("cosine_edges",
         cosine_threshold_edges(cfeats, 0.75, "record_id", "embedding",
                                max_k=100, ref=cref))
    dump("cosine_self_scan",
         cosine_self_scan(cfeats, cref, 0.75, 100, 100, "record_id", "embedding"))
    dump("rank_by_avg_similarity",
         rank_by_avg_similarity(cfeats, cfeats, 100, exclude_self=True, ref=cref))
    drop_blob(cref)

    # cross dedup through the api memo path (after: blob single-job)
    from semhash_spark.api import SparkSemHash

    from semhash_spark.operators import dedup as dedup_ops

    blob_min_rows = dedup_ops.CROSS_BLOB_MIN_ROWS
    dedup_ops.CROSS_BLOB_MIN_ROWS = 1
    idx = corpus.where(F.col("record_id") % 100 != 1)
    sh = SparkSemHash(code_cfg, mode="minhash").fit(idx)
    sh.prepare_index()
    dedup_ops.CROSS_BLOB_MIN_ROWS = blob_min_rows
    q = corpus.where(F.col("record_id") % 100 == 1)
    res = sh.deduplicate(q, broadcast_query=True)
    dump("cross_dedup_filtered", res.filtered)
    dump("cross_dedup_pairs", res.pairs)
    sh.release()

    # small-index relational path: below CROSS_THIN_MIN_ROWS the band
    # memo stays unthinned and candidate_pairs_cross thins per call
    # (large/blob-consuming fits pre-thin at prepare)
    sh2 = SparkSemHash(code_cfg, mode="minhash").fit(idx)
    sh2.prepare_index()
    res2 = sh2.deduplicate(q, broadcast_query=True)
    dump("cross_dedup_small_pairs", res2.pairs)

    from semhash_spark.functions.hashing import shingle_hashes
    from semhash_spark.operators.containment import anchor_table

    sfeats = corpus.select(
        "record_id", shingle_hashes("content", 5).alias("shingles")
    ).persist()
    ccfg = code_cfg.with_(containment_threshold=0.9, anchor_mod=8)
    dump_verified("containment_edges",
                  anchor_table(sfeats, "shingles", ccfg.anchor_mod, "record_id"),
                  sfeats, ccfg.bucket_cap, "containment", ccfg.containment_threshold)
    spark.stop()


if __name__ == "__main__":
    main()
