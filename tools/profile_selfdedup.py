"""Per-stage wall-clock profile of the flagship corpus self-dedup.

Materializes each pipeline stage separately (count/persist barriers)
so the breakdown attributes time to: exact stage, featurize
(shingles+sig), LSH edges, connected components, and result
bookkeeping. The default ``fused`` strategy is the library's plan:
banding with each candidate pair verified inside the bucket
generator (one "bands+verify" stage). ``auto``, ``join`` or
``broadcast`` profile the candidates -> ``verify_jaccard`` plan
instead (separate "bands+candidates" and "verify" stages). Usage:

    python tools/profile_selfdedup.py [n_files] [fused|auto|join|broadcast]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    strategy = sys.argv[2] if len(sys.argv) > 2 else "fused"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from semhash_spark.config import DedupConfig
    from semhash_spark.functions.hashing import minhash_signature, shingle_hashes
    from semhash_spark.operators.components import connected_components
    from semhash_spark.operators.dedup import _edges_minhash
    from semhash_spark.operators.exact import self_exact_dedup
    from semhash_spark.operators.lsh import band_table, candidate_pairs_self
    from semhash_spark.operators.verify import verify_jaccard
    from semhash_spark.session import get_spark
    from semhash_spark.sources.corpus import generate_corpus

    spark = get_spark("profile", cores=cpus, shuffle_partitions=max(8, cpus))
    cfg = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                      num_perm=128, bands=32)

    corpus = generate_corpus(spark, n).persist()
    corpus.count()
    spark.range(1000).mapInPandas(lambda it: (p for p in it), "id long").count()

    t = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        out = fn()
        t[name] = round(time.perf_counter() - t0, 2)
        print(f"[stage] {name}: {t[name]}s", flush=True)
        return out

    def load():
        return os.getloadavg()[0]

    print(f"n={n} strategy={strategy} cpus={cpus} load_start={load():.1f}")

    keyed = timed("exact", lambda: self_exact_dedup(
        corpus, cfg.columns, "record_id").persist())
    timed("exact_count", lambda: keyed.count())
    exemplars = keyed.where(~F.col("is_exact_dup"))

    def build_feats():
        f = exemplars.select(
            "record_id", shingle_hashes("content", cfg.shingle_k).alias("shingles")
        )
        f = f.withColumn("sig", minhash_signature("shingles", cfg.num_perm)).persist()
        f.count()
        return f

    feats = timed("featurize", build_feats)

    def build_fused():
        e = _edges_minhash(feats, cfg, "record_id", cfg.threshold)
        print("  edges:", e.count())
        return e

    def build_cands():
        bt = band_table(feats.where(F.size("shingles") > 0), "sig", cfg.bands,
                        "record_id", cfg.rows_per_band)
        c = candidate_pairs_self(bt, cfg.bucket_cap, "record_id").persist()
        print("  candidates:", c.count())
        return c

    def build_edges(cands):
        e = verify_jaccard(cands, feats, "shingles", "record_id",
                           cfg.threshold, strategy=strategy).persist()
        print("  edges:", e.count())
        return e

    if strategy == "fused":
        edges = timed("bands+verify", build_fused)
    else:
        cands = timed("bands+candidates", build_cands)
        edges = timed("verify", lambda: build_edges(cands))

    cc = timed("components", lambda: connected_components(
        edges.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        "record_id").persist())
    timed("cc_count", lambda: cc.count())

    def bookkeeping():
        ex = exemplars.join(cc, "record_id", "left").withColumn(
            "cluster_id", F.coalesce("cluster_id", F.col("record_id")))
        n_sel = ex.where(F.col("cluster_id") == F.col("record_id")).count()
        n_fil = keyed.where(F.col("is_exact_dup")).count() + (
            ex.where(F.col("cluster_id") != F.col("record_id")).count())
        print("  selected:", n_sel, "filtered:", n_fil)

    timed("bookkeeping", bookkeeping)
    total = sum(t.values())
    print(f"TOTAL {total:.1f}s  files/s={n/total:.0f}  load_end={load():.1f}")
    print(t)
    spark.stop()


if __name__ == "__main__":
    main()
