#!/usr/bin/env python
"""Sub-phase profiler for the cosine-mode flagship (guide §1: isolate
with noop sinks + labeled jobs). NOT part of the frozen bench.

Usage: python tools/profile_cosine.py [n_files]   (SPARK_GRAFT_CPUS sets
the core count). Times the exact stage, the encoder, the size check,
the blob write and pack, the threshold scan alone and the shared
self scan (edges + top-k averages, ``rank.cosine_self_scan``), CC, then
full fitted passes (fit, self_deduplicate, self_filter_outliers,
self_find_representative)."""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from semhash_spark.config import DedupConfig
    from semhash_spark.session import get_spark
    from semhash_spark.sources.corpus import generate_corpus

    spark = get_spark("profile_cosine", cores=cpus, shuffle_partitions=max(8, cpus))
    sc = spark.sparkContext
    corpus = generate_corpus(spark, n).persist()
    corpus.count()
    import pandas as _pd  # noqa: F401
    spark.range(1000).mapInPandas(lambda it: (p for p in it), "id long").count()

    cfg = DedupConfig(
        columns=("content",), threshold=0.75, embedding_dim=128,
        embedding_ngram=2, hyperplane_bits=2048, hyperplane_bands=128,
    )
    t: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        r = fn()
        t[name] = round(time.perf_counter() - t0, 3)
        print(f"[prof] {name}: {t[name]:.2f}s", file=sys.stderr)
        sc.setJobDescription(None)
        return r

    from semhash_spark.operators.exact import self_exact_dedup
    from semhash_spark.operators.dedup import add_features
    from semhash_spark.operators.verify import (
        _feat_bytes, cosine_threshold_edges, drop_blob, write_blob,
    )

    keyed = self_exact_dedup(corpus, cfg.columns, cfg.id_col).persist()
    timed("exact", keyed.count)
    exemplars = keyed.where(~F.col("is_exact_dup"))
    feats = add_features(exemplars, cfg, "cosine").select(
        cfg.id_col, cfg.embedding_col).persist()
    timed("featurize", feats.count)
    timed("feat_bytes", lambda: _feat_bytes(feats, cfg.embedding_col))
    ref = timed("blob_write", lambda: write_blob(
        feats, cfg.id_col, cfg.embedding_col, "cosedges"))

    # pack only: one no-output pass that forces every worker to build/mmap
    def pack_only(batches):
        from semhash_spark.operators.verify import load_feats_rows
        load_feats_rows(ref, "scan")
        import pandas as pd
        for b in batches:
            pass
        yield pd.DataFrame({"x": [0]})

    timed("pack", lambda: spark.range(0, cpus, 1, cpus).mapInPandas(
        pack_only, "x long").count())

    # given the blob, the scans are lazy frames (not detached), so each
    # runs inside its own timed span
    edges = cosine_threshold_edges(feats, cfg.threshold, cfg.id_col,
                                   cfg.embedding_col, max_k=cfg.cosine_max_k, ref=ref)
    timed("scan_noop", lambda: edges.write.format("noop").mode("overwrite").save())
    from semhash_spark.operators.rank import cosine_self_scan

    shared = cosine_self_scan(feats, ref, cfg.threshold, cfg.rank_k, cfg.cosine_max_k,
                              cfg.id_col, cfg.embedding_col)
    timed("shared_scan_noop",
          lambda: shared.write.format("noop").mode("overwrite").save())
    edges_p = edges.persist()
    timed("edges_count", edges_p.count)
    n_edges = edges_p.count()

    from semhash_spark.operators.components import connected_components
    cc = connected_components(
        edges_p.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        cfg.id_col)
    timed("cc", cc.count)
    edges_p.unpersist()
    drop_blob(ref)

    # bookkeeping: full fitted passes, selected/filtered counts (warm)
    from semhash_spark.api import SparkSemHash

    def full():
        sh = SparkSemHash(cfg, mode="cosine").fit(corpus)
        res = sh.self_deduplicate()
        ns, nf = res.selected.count(), res.filtered.count()
        fo = sh.self_filter_outliers(0.1)
        fo.filtered.count()
        sh.self_find_representative(10)
        fo.release()
        res.release()
        sh.release()
        return ns, nf
    counts = timed("full_pass", full)
    counts2 = timed("full_pass2", full)

    print(json.dumps({"n": n, "timings": t, "n_edges": n_edges,
                      "counts": list(counts), "counts2": list(counts2),
                      "load1": round(os.getloadavg()[0], 1)}))
    spark.stop()


if __name__ == "__main__":
    main()
