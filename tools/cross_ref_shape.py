#!/usr/bin/env python
"""Reference-benchmark-shape cross-dedup timing (VERDICT r4 item 6).

The reference's benchmark (ref benchmarks/README.md:43-67) fits
~1.8M records once and deduplicates a small test batch against the
fitted index, reporting the DEDUP-ONLY seconds (0.93 s for 4.3k
queries vs the 1.8M wikitext index) separately from the build.

This tool reproduces that shape with the synthetic input_hint
corpus: fit rid < N_INDEX (default 1.8M), then deduplicate the next
N_QUERY rows (default 4.3k — disjoint centuries, so matches come
from the shared boilerplate slots, like real cross-corpus overlap)
through the memoized ``prepare_index`` path with a broadcast query
side, and report build vs dedup-only wall separately. Prints ONE
JSON line.

Usage: python tools/cross_ref_shape.py [n_index] [n_query] [--runs K]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.flagship_1m import canary_seconds  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_index", nargs="?", type=int, default=1_800_000)
    ap.add_argument("n_query", nargs="?", type=int, default=4_300)
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from semhash_spark.api import SparkSemHash
    from semhash_spark.config import DedupConfig
    from semhash_spark.session import get_spark
    from semhash_spark.sources.corpus import generate_corpus

    c0 = canary_seconds()
    spark = get_spark("cross_ref_shape", cores=cpus,
                      shuffle_partitions=max(8, cpus))
    cfg = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                      num_perm=128, bands=32)

    total = generate_corpus(spark, args.n_index + args.n_query).persist()
    total.count()
    idx = total.where(F.col("record_id") < args.n_index)
    # reference-shape overlap: the wikitext test split removes 50.92%
    # against train (ref benchmarks/README.md:61). The generator's
    # near-dup planting is rid-local, so a disjoint-rid tail shares
    # NOTHING with the index (measured: fil=0) — instead, half the
    # query batch is verbatim clones of index rows under fresh ids
    # (exact-dup leakage, like real train/test contamination) and
    # half is the fresh disjoint tail.
    # clones must come from index rows; a query batch wider than 2x the
    # index would otherwise re-label query-tail rows as "clones"
    n_clone = min(args.n_query // 2, args.n_index)
    clones = (
        total.where(F.col("record_id") < n_clone)
        .withColumn(
            "record_id",
            F.col("record_id") + F.lit(args.n_index + args.n_query),
        )
    )
    q = (
        total.where(F.col("record_id") >= args.n_index + n_clone)
        .unionByName(clones)
        .persist()
    )
    q.count()
    spark.range(1000).mapInArrow(lambda it: (b for b in it), "id long").count()

    t0 = time.perf_counter()
    sh = SparkSemHash(cfg, mode="minhash").fit(idx)
    sh.prepare_index()  # materialize keys/bands/blob memos = the build
    build_sec = round(time.perf_counter() - t0, 2)
    print(f"[cross] build (fit + prepare_index): {build_sec}s", file=sys.stderr)

    runs = []
    for i in range(args.runs):
        t0 = time.perf_counter()
        res = sh.deduplicate(q, broadcast_query=True)
        n_sel = res.selected.count()
        n_fil = res.filtered.count()
        sec = round(time.perf_counter() - t0, 3)
        res.release()
        runs.append(sec)
        print(f"[cross] dedup-only run {i}: {sec}s sel={n_sel} fil={n_fil}",
              file=sys.stderr)
    sh.release()
    spark.stop()
    c1 = canary_seconds()

    print(json.dumps({
        "n_index": args.n_index, "n_query": args.n_query, "cpus": cpus,
        "build_sec": build_sec,
        "dedup_only_sec_best": min(runs), "dedup_only_runs": runs,
        "n_selected": n_sel, "n_filtered": n_fil,
        "reference_dedup_only_sec": 0.93,
        "canary_before_sec": round(c0, 2), "canary_after_sec": round(c1, 2),
    }))


if __name__ == "__main__":
    main()
