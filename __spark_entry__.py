"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises an operator family from
SURVEY.md §2 through the semhash_spark engine; ``oracle_sql()``
gives the DuckDB-equivalent ANSI SQL over the same parquet views.
Connected components is SQL-expressible here via a recursive CTE
(transitive closure is tiny at sf<=0.01 thresholds), so even the
clustering queries get full value-hash checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.functions.hashing import hamming64, shingle_hashes, simhash64, simhash_bands
from semhash_spark.functions.text import (
    bpe_ish_token_count,
    content_fingerprint,
    lang_id,
    quality_score,
    token_count,
)
from semhash_spark.functions.vectors import cosine_similarity
from semhash_spark.operators.containment import containment_edges
from semhash_spark.operators.dedup import self_deduplicate
from semhash_spark.operators.exact import self_exact_dedup
from semhash_spark.operators.knn import brute_topk
from semhash_spark.operators.lsh import band_table, candidate_pairs_self, explode_band_array
from semhash_spark.operators.rank import filter_outliers, rank_by_avg_similarity
from semhash_spark.operators.verify import verify_jaccard
from semhash_spark.sources.tables import documents as _documents
from semhash_spark.sources.tables import embeddings as _embeddings
from semhash_spark.sources.tables import read_table

JACCARD_T = 0.8
COSINE_T = 0.4  # the provided embeddings are near-random; 0.9 finds nothing
DOC_CFG = DedupConfig(columns=("text",), threshold=JACCARD_T, shingle_k=3,
                      num_perm=128, bands=32)


# ----------------------------------------------------------------- entry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: MinHash/LSH/CC self-dedup of sf0.001 documents."""
    docs = _documents(spark, "/root/testdata/sf0.001")
    res = self_deduplicate(docs, DOC_CFG, mode="minhash")
    return res.selected.select("doc_id", "text", "lang", "source", "n_chars")


# ---------------------------------------------------------------- helpers


_PERSISTED: list = []


def _track(df: DataFrame) -> DataFrame:
    """persist() + remember for release_caches() (VERDICT r3 #5: the
    harness used to leak its persisted frames for the session
    lifetime). Spark's CacheManager keys on the analyzed plan, so
    repeated calls with the same plan share one cache entry."""
    df.persist()
    _PERSISTED.append(df)
    return df


def release_caches() -> None:
    """Unpersist every frame/result the query helpers cached and remove
    the job-export output dirs; queries recompute on next use. Call
    after a queries() sweep."""
    for df in _PERSISTED:
        try:
            df.unpersist()
        except Exception:
            pass
    _PERSISTED.clear()
    for res in _SELFDEDUP_CACHE.values():
        try:
            res.release()
        except Exception:
            pass
    _SELFDEDUP_CACHE.clear()
    for res in _RESULTS:
        try:
            res.release()
        except Exception:
            pass
    _RESULTS.clear()
    import shutil

    for path in _EXPORT_DIRS:
        shutil.rmtree(path, ignore_errors=True)
    _EXPORT_DIRS.clear()


_RESULTS: list = []
# q_job_export output dirs, removed by release_caches()
_EXPORT_DIRS: list = []


def _keep(res):
    """Track an inline DedupResult/FilterResult so release_caches()
    drops its internal persisted stages after the driver sweep."""
    _RESULTS.append(res)
    return res


def _doc_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _track(
        _documents(spark, sf_dir)
        .select("record_id", shingle_hashes("text", 3).alias("shingles"))
    )


def _emb(spark, sf_dir):
    return _embeddings(spark, sf_dir)


_SELFDEDUP_CACHE: dict = {}


def _docs_selfdedup(spark, sf_dir):
    """Memoized flagship self-dedup result — several queries() entries
    inspect different surfaces of the same run (clusters, stats,
    rethreshold, least-similar, sha invariant); the persisted stages
    inside self_deduplicate make repeat inspection cheap only within
    ONE DedupResult, so share it."""
    key = (id(spark), sf_dir)
    if key not in _SELFDEDUP_CACHE:
        docs = _documents(spark, sf_dir)
        _SELFDEDUP_CACHE[key] = self_deduplicate(docs, DOC_CFG, mode="minhash")
    return _SELFDEDUP_CACHE[key]


# ---------------------------------------------------------------- queries


def q_exact_dedup_selected(spark, sf_dir):
    # E1/E2: first-occurrence keyed distinct over (lang, source)
    docs = _documents(spark, sf_dir)
    keyed = self_exact_dedup(docs, ("lang", "source"), "record_id")
    return (
        keyed.where(~F.col("is_exact_dup"))
        .select(F.col("doc_id").cast("long").alias("doc_id"), "lang", "source")
    )


def q_exact_dedup_pairs(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    keyed = self_exact_dedup(docs, ("lang", "source"), "record_id")
    return keyed.where(F.col("is_exact_dup")).select(
        F.col("doc_id").cast("long").alias("dup_id"),
        F.col("exemplar_id").cast("long").alias("exemplar_id"),
    )


def q_events_first_per_key(spark, sf_dir):
    # E2 on the events table: first event per (user_id, event_type)
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("event_id", "user_id", "event_type")
    )


def q_jaccard3_pairs(spark, sf_dir):
    # F3/F4/J1/J4/J2: LSH candidates + exact-Jaccard verification
    from semhash_spark.functions.hashing import minhash_signature

    docs = _documents(spark, sf_dir).select(
        "record_id", shingle_hashes("text", 3).alias("shingles")
    )
    sigs = _track(docs.select(
        "record_id", "shingles",
        minhash_signature("shingles", DOC_CFG.num_perm).alias("sig"),
    ))
    bt = band_table(sigs, "sig", DOC_CFG.bands, "record_id")
    cands = candidate_pairs_self(bt, DOC_CFG.bucket_cap, "record_id", _PERSISTED)
    verified = verify_jaccard(cands, sigs, "shingles", "record_id", JACCARD_T)
    return verified.select(
        F.col("a").cast("long").alias("a"),
        F.col("b").cast("long").alias("b"),
        F.round("score", 6).alias("jac"),
    )


def q_selfdedup_clusters(spark, sf_dir):
    # D2/D3: full minhash pipeline; cluster_id = min id of component
    res = _docs_selfdedup(spark, sf_dir)
    sel = res.selected.select(
        F.col("record_id").alias("doc_id"), F.col("record_id").alias("cluster_id")
    )
    fil = res.filtered.select(
        F.col("record_id").alias("doc_id"), F.col("exemplar_id").alias("cluster_id")
    )
    return sel.unionByName(fil).select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long")
    )


def q_selfdedup_clusters_oph(spark, sf_dir):
    # D2/D3 with the one-permutation signature family (F4 variant,
    # functions/hashing.py:oph_signature): banding/verify/CC are
    # family-agnostic and exact verification re-scores every
    # candidate, so the clusters must be BIT-IDENTICAL to the k-perm
    # family and to the all-pairs SQL oracle whenever candidate
    # recall is complete (it is at this SF; the planted-recall bar is
    # tests/test_oph.py)
    docs = _documents(spark, sf_dir)
    res = _keep(self_deduplicate(
        docs, DOC_CFG.with_(minhash_family="oph"), mode="minhash"
    ))
    sel = res.selected.select(
        F.col("record_id").alias("doc_id"), F.col("record_id").alias("cluster_id")
    )
    fil = res.filtered.select(
        F.col("record_id").alias("doc_id"), F.col("exemplar_id").alias("cluster_id")
    )
    return sel.unionByName(fil).select(
        F.col("doc_id").cast("long"), F.col("cluster_id").cast("long")
    )


def q_filtered_strings(spark, sf_dir):
    # string-record surface (semhash/records.py:20-35 via
    # DedupResult.filtered_strings): every dropped row rendered back
    # to its cleaned string plus the kept exemplar's string. The
    # exemplar link equals the component exemplar (the
    # selfdedup_clusters oracle proves filtered.exemplar_id ==
    # comp.cluster_id), so the oracle joins documents on the same CTE.
    res = _docs_selfdedup(spark, sf_dir)
    return res.filtered_strings().select(
        F.col("record_id").cast("long").alias("dup_id"),
        "record",
        "duplicate_of",
    )


def q_selfdedup_stats(spark, sf_dir):
    # D5: scalar stats row
    res = _docs_selfdedup(spark, sf_dir)
    return res.stats_df().select(
        "n_selected", "n_filtered", "n_exact",
        F.round("duplicate_ratio", 6).alias("duplicate_ratio"),
    )


def q_cosine_dedup_clusters(spark, sf_dir):
    # D2 with cosine metric over precomputed embeddings (S3 path)
    emb = _emb(spark, sf_dir).withColumnRenamed("embedding", "emb")
    cfg = DedupConfig(columns=("vec_id",), threshold=COSINE_T, embedding_col="emb")
    res = _keep(self_deduplicate(
        emb.withColumn("vec_id_s", F.col("vec_id").cast("string")).withColumn(
            "emb", F.col("emb")
        ).withColumn("record_id", F.col("vec_id").cast("long")),
        cfg.with_(columns=("vec_id_s",)),
        mode="cosine",
    ))
    sel = res.selected.select(
        F.col("record_id").alias("vec_id"), F.col("record_id").alias("cluster_id")
    )
    fil = res.filtered.select(
        F.col("record_id").alias("vec_id"), F.col("exemplar_id").alias("cluster_id")
    )
    return sel.unionByName(fil).select(
        F.col("vec_id").cast("long"), F.col("cluster_id").cast("long")
    )


def _emb_cross_split(spark, sf_dir):
    emb = _emb(spark, sf_dir).withColumn(
        "record_id", F.col("vec_id").cast("long")
    ).withColumn("vstr", F.col("vec_id").cast("string"))
    return emb.where("vec_id % 5 = 0"), emb.where("vec_id % 5 != 0")


def q_cross_dedup_cosine_selected(spark, sf_dir):
    # D1 cosine through the LIBRARY path (r3 #1: no more inline
    # crossJoin): the index fits the blob caps at this SF so
    # deduplicate() takes the FUSED index-blob + streamed-query
    # matmul — exhaustive, so the exact-SQL oracle stays valid, and
    # the executed plan carries no CartesianProduct (plan-asserted in
    # tests/test_cross_cosine.py).
    from semhash_spark.operators.dedup import deduplicate as _cross_dedup

    q, i = _emb_cross_split(spark, sf_dir)
    cfg = DedupConfig(columns=("vstr",), threshold=COSINE_T, embedding_col="embedding")
    res = _keep(_cross_dedup(q, i, cfg, mode="cosine"))
    return res.selected.select(F.col("record_id").cast("long").alias("vec_id"))


def q_cross_dedup_cosine_lsh(spark, sf_dir):
    # D1 cosine with the AT-SCALE plan FORCED (cosine_fused_cap=0):
    # random-hyperplane banding on both sides -> skew-capped bucket
    # join -> exact cosine verify. Probabilistic recall, so the
    # oracle (_cross_hyperplane_sql) inlines the same seeded Gaussian
    # matrix and reproduces banding + verification independently in
    # DuckDB — a full value-hash check of the LSH path itself.
    from semhash_spark.operators.dedup import deduplicate as _cross_dedup

    q, i = _emb_cross_split(spark, sf_dir)
    cfg = DedupConfig(
        columns=("vstr",), threshold=COSINE_T, embedding_col="embedding",
        cosine_fused_cap=0, hyperplane_bits=64, hyperplane_bands=16,
        bucket_cap=1_000_000,  # keep the consistent-sampling thinning
        # out of this query so the oracle stays exactly reproducible;
        # the cap behavior itself is stress-tested in tests/test_skew.py
    )
    res = _keep(_cross_dedup(q, i, cfg, mode="cosine"))
    return res.selected.select(F.col("record_id").cast("long").alias("vec_id"))


def q_knn_top10(spark, sf_dir):
    # J3: per-query top-k with deterministic tie-break
    emb = _emb(spark, sf_dir)
    q = emb.where("vec_id < 50")
    i = emb.where("vec_id >= 50")
    tk = brute_topk(q, i, 10, id_col="record_id", emb_col="embedding")
    return tk.select(
        F.col("query_id").cast("long"),
        F.col("index_id").cast("long"),
        F.col("rk").cast("long"),
    )


def q_rank_avg_top100(spark, sf_dir):
    # R2: self-rank by mean of top-100 similarities (self excluded)
    emb = _emb(spark, sf_dir)
    r = rank_by_avg_similarity(emb, emb, 100, exclude_self=True,
                               id_col="record_id", emb_col="embedding")
    return r.select(
        F.col("query_id").cast("long").alias("vec_id"),
        F.round("avg_score", 6).alias("avg_score"),
    )


def q_outliers_pct10(spark, sf_dir):
    # R3: bottom ceil(n*0.1) of the ranking
    emb = _emb(spark, sf_dir)
    r = rank_by_avg_similarity(emb, emb, 100, exclude_self=True,
                               id_col="record_id", emb_col="embedding")
    _, outl = filter_outliers(r, 0.1, persisted=_PERSISTED)
    return outl.select(F.col("query_id").cast("long").alias("vec_id"))


def q_token_stats(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long"),
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").alias("n_bpe"),
        F.length("text").cast("long").alias("n_chars_calc"),
    )


def q_quality_scores(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long"), quality_score("text").alias("q")
    )


def q_lang_pred(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long"), lang_id("text").alias("lang_pred")
    )


def q_fingerprint(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long"), content_fingerprint("text").alias("fp")
    )


def q_hygiene_flags(spark, sf_dir):
    # corpus-hygiene rule flags (C4/Gopher-style public heuristics,
    # functions/text.py:hygiene_flags) — one boolean per rule + keep
    from semhash_spark.functions.text import hygiene_flags

    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long"),
        hygiene_flags("text").alias("h"),
    ).select(
        "doc_id",
        F.col("h.too_few_tokens").alias("too_few_tokens"),
        F.col("h.mean_word_too_long").alias("mean_word_too_long"),
        F.col("h.symbol_heavy").alias("symbol_heavy"),
        F.col("h.few_distinct_tokens").alias("few_distinct_tokens"),
        F.col("h.bracket_imbalance").alias("bracket_imbalance"),
        F.col("h.keep").alias("keep"),
    )


def q_containment_pairs(spark, sf_dir):
    # J5: winnowing-anchor containment stage
    feats = _doc_feats(spark, sf_dir)
    cfg = DedupConfig(containment_threshold=0.9, anchor_mod=8)
    edges = containment_edges(feats, cfg, "record_id", persisted=_PERSISTED)
    return edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.round("score", 6).alias("containment"),
    )


def q_containment_pairs_winnow(spark, sf_dir):
    # J5 with TRUE winnowing anchors (min hash per sliding window,
    # SIGMOD'03) instead of 0-mod-p sampling: every doc contributes
    # >= 1 anchor, so candidate recall is complete and the edges
    # hash-match the same all-pairs containment oracle. The
    # shingles_pos column carries the PRE-distinct positional
    # sequence, giving the paper's cross-document shared-run anchor
    # guarantee (ADVICE r3; functions/hashing.shingle_hashes_positional)
    from semhash_spark.functions.hashing import shingle_hashes_positional

    feats = _documents(spark, sf_dir).select(
        "record_id",
        shingle_hashes("text", 3).alias("shingles"),
        shingle_hashes_positional("text", 3).alias("shingles_pos"),
    )
    cfg = DedupConfig(containment_threshold=0.9, anchor_policy="winnow",
                      winnow_window=8)
    edges = containment_edges(feats, cfg, "record_id", persisted=_PERSISTED)
    return edges.select(
        F.col("a").cast("long"),
        F.col("b").cast("long"),
        F.round("score", 6).alias("containment"),
    )


def q_simhash_pairs(spark, sf_dir):
    # F5: simhash banding + hamming filter, VALUE-HASH checkable:
    # shingle hashes come from sha256 (60-bit prefix) instead of
    # xxhash64 so DuckDB can recompute the identical fingerprints;
    # the operator path (simhash64 kernel, pigeonhole banding,
    # hamming verify) is exactly the production one. Banding 4x16
    # bits over a 60-bit value keeps the pigeonhole guarantee
    # (hamming <= 3 => >= 1 shared band), so the emitted set is the
    # COMPLETE hamming<=3 pair set — deterministic, not
    # recall-dependent. The xxhash64 fast path stays covered by
    # tests/test_simhash.py.
    from semhash_spark.functions.hashing import shingle_strings

    docs = _documents(spark, sf_dir).select(
        "record_id", shingle_strings("text", 3).alias("shs")
    )
    hv = F.transform(
        F.col("shs"),
        lambda s: F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("long"),
    )
    feats = _track(docs.select("record_id", hv.alias("shingles")))
    sims = _track(feats.select("record_id", simhash64("shingles").alias("sim64")))
    banded = sims.withColumn("shb", simhash_bands("sim64", 4))
    bt = explode_band_array(banded, "shb", "record_id")
    cands = candidate_pairs_self(bt, 1000, "record_id", _PERSISTED)
    s = sims
    out = (
        cands.join(s.select(F.col("record_id").alias("a"), F.col("sim64").alias("_sa")), "a")
        .join(s.select(F.col("record_id").alias("b"), F.col("sim64").alias("_sb")), "b")
        .withColumn("hamming", hamming64("_sa", "_sb"))
        .where(F.col("hamming") <= 3)
        .select(F.col("a").cast("long"), F.col("b").cast("long"),
                F.col("hamming").cast("long"))
    )
    return out


def q_cross_dedup_jaccard(spark, sf_dir):
    # D1 minhash: query (doc_id%5=0) vs fitted index, exact stage +
    # existential LSH+Jaccard match; exemplar = best index hit
    from semhash_spark.operators.dedup import deduplicate

    docs = _documents(spark, sf_dir)
    q = docs.where("doc_id % 5 = 0")
    idx = docs.where("doc_id % 5 != 0")
    res = _keep(deduplicate(q, idx, DOC_CFG, mode="minhash"))
    return res.filtered.select(
        F.col("doc_id").cast("long").alias("dup_id"),
        F.col("exemplar_id").cast("long").alias("exemplar_id"),
        F.round("score", 6).alias("score"),
    )


def q_rethreshold_selected(spark, sf_dir):
    # D4: raise threshold 0.8 -> 0.9 post-hoc; rows whose links all
    # drop move back to selected
    res = _docs_selfdedup(spark, sf_dir).rethreshold(0.9)
    return res.selected.select(F.col("doc_id").cast("long"))


def q_least_similar(spark, sf_dir):
    # D6: global bottom-5 duplicate links (threshold-tuning tool)
    res = _docs_selfdedup(spark, sf_dir)
    return res.get_least_similar_from_duplicates(5).select(
        F.col("dup_id").cast("long"),
        F.col("other_id").cast("long"),
        F.round("score", 6).alias("score"),
    )


def q_selected_with_dup_stats(spark, sf_dir):
    # D7 (relational form): per-exemplar absorbed-duplicate stats
    res = _docs_selfdedup(spark, sf_dir)
    return res.filtered.groupBy("exemplar_id").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.round(F.min("score"), 6).alias("min_score"),
        F.round(F.max("score"), 6).alias("max_score"),
    ).select(F.col("exemplar_id").cast("long"), "n_dups", "min_score", "max_score")


def q_sha_invariant(spark, sf_dir):
    # north-rule invariant: selected ∪ filtered == input exactly,
    # per-row content sha256 preserved end-to-end
    res = _docs_selfdedup(spark, sf_dir)
    both = res.selected.select("doc_id", "text").unionByName(
        res.filtered.select("doc_id", "text")
    )
    return both.select(
        F.col("doc_id").cast("long"), F.sha2("text", 256).alias("sha")
    )


def q_rendered_records(spark, sf_dir):
    # D8: multi-column record rendering (tab-join, tabs -> spaces)
    from semhash_spark.operators.ids import rendered_record

    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long"),
        rendered_record(("lang", "source")).alias("rendered"),
    )


def q_ivf_knn_top5(spark, sf_dir):
    # ANN scale path, exhaustively probed (n_probe == n_cells) so the
    # result is exactly brute-force top-5 and fully oracle-checkable;
    # pruned-probe recall is asserted separately in tests/test_knn.py
    from semhash_spark.operators.knn import ivf_topk

    emb = _emb(spark, sf_dir)
    tk = ivf_topk(emb, emb, 5, n_cells=8, n_probe=8, exclude_self=True,
                  id_col="record_id", emb_col="embedding")
    return tk.select(
        F.col("query_id").cast("long"),
        F.col("index_id").cast("long"),
        F.col("rk").cast("long"),
    )


def q_hyperplane_cosine_pairs(spark, sf_dir):
    # F: random-hyperplane LSH candidates + exact cosine verify (the
    # at-scale cosine path; probabilistic recall -> rows-only check)
    from semhash_spark.functions.vectors import hyperplane_bands
    from semhash_spark.operators.verify import verify_cosine

    emb = _emb(spark, sf_dir).select("record_id", "embedding")
    banded = emb.withColumn("hpb", hyperplane_bands("embedding", 64, 16))
    bt = explode_band_array(banded, "hpb", "record_id")
    cands = candidate_pairs_self(bt, 1000, "record_id", _PERSISTED)
    v = verify_cosine(cands, emb, "embedding", "record_id", COSINE_T)
    return v.select(F.col("a").cast("long"), F.col("b").cast("long"),
                    F.round("score", 6).alias("score"))


IVF_CELLS, IVF_PROBE = 8, 4


def q_ivf_cosine_pairs(spark, sf_dir):
    # J: coarse-IVF cells + per-cell fused gemm (the mid-threshold
    # at-scale cosine plan, round 5). The oracle replicates the SAME
    # candidate structure in SQL with the SAME inlined centroids
    # (_ivf_sql), like the hyperplane row inlines the same planes.
    from semhash_spark.operators.verify import cosine_threshold_edges_ivf

    emb = _emb(spark, sf_dir).select("record_id", "embedding")
    edges = cosine_threshold_edges_ivf(
        emb, COSINE_T, "record_id", "embedding",
        n_cells=IVF_CELLS, n_probe=IVF_PROBE, max_k=None,
    )
    return edges.select(F.col("a").cast("long"), F.col("b").cast("long"),
                        F.round("score", 6).alias("score"))


def _media_df(spark, sf_dir):
    docs = _documents(spark, sf_dir)
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("lang") == "en", "image").otherwise("audio").alias("kind"),
        F.lit(64).alias("width"),
        F.lit(64).alias("height"),
        F.encode(F.repeat("text", 20), "UTF-8").alias("payload"),
    )


def q_media_features_meta(spark, sf_dir):
    # multimodal plumbing: opaque binary payload -> Arrow-batched
    # fake decode; metadata columns are oracle-checkable
    from semhash_spark.operators.multimodal import extract_media_features

    feats = extract_media_features(_media_df(spark, sf_dir), decoder="fake", dim=16)
    return feats.select(
        F.col("media_id").cast("long"), "kind",
        F.col("feat_dim").cast("long").alias("feat_dim"),
        F.col("n_bytes").cast("long"),
    )


def q_frame_sample(spark, sf_dir):
    # multimodal: frame-sampling explode plan over payload metadata
    from semhash_spark.operators.multimodal import frame_sample_plan

    return frame_sample_plan(_media_df(spark, sf_dir), every_n=2).select(
        F.col("media_id").cast("long"), F.col("frame_idx").cast("long")
    )


def q_outliers_cross_pct20(spark, sf_dir):
    # R1+R3 cross mode: rank query vectors (vec_id < 100) against the
    # REST as index, drop the bottom ceil(n*0.2)
    emb = _emb(spark, sf_dir)
    q = emb.where("vec_id < 100")
    idx = emb.where("vec_id >= 100")
    r = rank_by_avg_similarity(q, idx, 100, exclude_self=False,
                               id_col="record_id", emb_col="embedding")
    _, outl = filter_outliers(r, 0.2, persisted=_PERSISTED)
    return outl.select(F.col("query_id").cast("long").alias("vec_id"))


def q_containment_lcs(spark, sf_dir):
    # J5 confirm stage: suffix-automaton longest-common-substring over
    # surviving containment candidates (no SQL LCS -> rows-only)
    from semhash_spark.operators.containment import containment_edges, lcs_confirm

    docs = _documents(spark, sf_dir)
    feats = docs.select("record_id", shingle_hashes("text", 3).alias("shingles"))
    cfg = DedupConfig(containment_threshold=0.9, anchor_mod=8)
    edges = containment_edges(feats, cfg, "record_id", persisted=_PERSISTED)
    out = lcs_confirm(edges, docs, "record_id", "text", min_frac=0.5)
    return out.select(
        F.col("a").cast("long"), F.col("b").cast("long"),
        F.round("lcs_frac", 6).alias("lcs_frac"),
    )


def q_representatives(spark, sf_dir):
    # R5/R6: MMR representative selection (driver-side numpy ->
    # deterministic but not SQL-expressible -> rows-only check)
    from semhash_spark.operators.rank import find_representative

    emb = _emb(spark, sf_dir)
    r = rank_by_avg_similarity(emb, emb, 100, exclude_self=True,
                               id_col="record_id", emb_col="embedding")
    sel_ids, _, _ = find_representative(
        r, emb, selection_size=10, diversity=0.5,
        id_col="record_id", emb_col="embedding",
    )
    return spark.createDataFrame(
        [(int(v), i + 1) for i, v in enumerate(sel_ids)], "vec_id long, pos long"
    )


def q_representatives_dpp(spark, sf_dir):
    # R5/R6: greedy-MAP DPP representative selection (pyversity
    # Strategy.DPP analogue; driver-side numpy -> deterministic but
    # not SQL-expressible -> pinned golden oracle)
    from semhash_spark.operators.rank import find_representative

    emb = _emb(spark, sf_dir)
    r = rank_by_avg_similarity(emb, emb, 100, exclude_self=True,
                               id_col="record_id", emb_col="embedding")
    sel_ids, _, _ = find_representative(
        r, emb, selection_size=10, diversity=0.5,
        id_col="record_id", emb_col="embedding", strategy="dpp",
    )
    return spark.createDataFrame(
        [(int(v), i + 1) for i, v in enumerate(sel_ids)], "vec_id long, pos long"
    )


def _q_representatives_strategy(spark, sf_dir, strategy):
    from semhash_spark.operators.rank import find_representative

    emb = _emb(spark, sf_dir)
    r = rank_by_avg_similarity(emb, emb, 100, exclude_self=True,
                               id_col="record_id", emb_col="embedding")
    sel_ids, _, _ = find_representative(
        r, emb, selection_size=10, diversity=0.5,
        id_col="record_id", emb_col="embedding", strategy=strategy,
    )
    return spark.createDataFrame(
        [(int(v), i + 1) for i, v in enumerate(sel_ids)], "vec_id long, pos long"
    )


def q_representatives_msd(spark, sf_dir):
    # R6 Max-Sum-Dispersion strategy; golden from the independent
    # scalar-loop trace in tools/oracle_goldens.py (non-circular)
    return _q_representatives_strategy(spark, sf_dir, "msd")


def q_representatives_cover(spark, sf_dir):
    # R6 facility-location COVER strategy; independent golden
    return _q_representatives_strategy(spark, sf_dir, "cover")


def q_representatives_ssd(spark, sf_dir):
    # R6 sliding-spectrum strategy; independent golden computes the
    # residual via np.linalg.qr projection, not Gram-Schmidt
    return _q_representatives_strategy(spark, sf_dir, "ssd")


def q_candidate_limits(spark, sf_dir):
    # R4: the reference's candidate-limit clamp chain
    # (semhash/utils.py:36-61, verbatim in rank.compute_candidate_limit)
    # exercised over data-driven totals x selection sizes chosen to hit
    # every branch (fraction floor, selection floor, min clamp, max
    # clamp, total clamp). The oracle re-derives the chain in pure SQL.
    from semhash_spark.operators.rank import compute_candidate_limit

    docs = _documents(spark, sf_dir)
    t = docs.agg(
        F.count("*").alias("t_all"),
        F.count(F.when(F.col("n_chars") > 300, 1)).alias("t_mid"),
        F.count(F.when(F.col("doc_id") < 30, 1)).alias("t_tiny"),
    ).collect()[0]
    rows = []
    for total_src, total in (("all", t.t_all), ("mid", t.t_mid), ("tiny", t.t_tiny)):
        for sel in (1, 50, 200, 2000):
            rows.append(
                (total_src, int(total), sel,
                 compute_candidate_limit(int(total), sel))
            )
    return spark.createDataFrame(
        rows,
        "total_src string, total long, selection_size long, cand_limit long",
    )


def q_filter_ratios(spark, sf_dir):
    # R7: FilterResultDF.filter_ratio / selected_ratio over the outlier
    # cut; n_filtered must equal ceil(n * pct) (reference
    # semhash/datamodels.py:152-181 ratio properties).
    from semhash_spark.datamodels import FilterResultDF

    emb = _emb(spark, sf_dir)
    r = rank_by_avg_similarity(emb, emb, 100, exclude_self=True,
                               id_col="record_id", emb_col="embedding")
    sel, outl = filter_outliers(r, 0.1, persisted=_PERSISTED)
    res = FilterResultDF(selected=sel, filtered=outl)
    return spark.createDataFrame(
        [(sel.count(), outl.count(), res.filter_ratio, res.selected_ratio)],
        "n_selected long, n_filtered long, filter_ratio double, "
        "selected_ratio double",
    )


def q_corpus_truth(spark, sf_dir):
    # S5: the benchmark corpus loader vs its id-arithmetic ground
    # truth — sha256-exact duplicates in a generated corpus are
    # exactly the slot-1 rows (sources/corpus.truth_exact_pairs), a
    # property of the generator's construction, independent of the
    # RNG draws. sf_dir intentionally unused: the corpus is the
    # loader's own synthetic table (BASELINE.json input_hint schema).
    from semhash_spark.sources.corpus import generate_corpus

    df = generate_corpus(spark, 2000, seed=7)
    sha = F.sha2(F.col("content"), 256)
    return df.agg(
        F.count("*").alias("n_files"),
        F.countDistinct(sha).alias("n_distinct_sha"),
        (F.count("*") - F.countDistinct(sha)).alias("n_exact_dups"),
    )


def q_job_export(spark, sf_dir):
    # S4: the result-export surface (jobs/dedup_job.py write path,
    # reference datamodels.py:67-68 "selected/filtered lists" realized
    # as parquet outputs). Runs the full job — self-dedup documents,
    # WRITE selected/filtered/stats parquet — then returns the
    # RE-READ outputs, so the oracle hashes what actually landed on
    # disk (VERDICT r4 item 7: S4 was the one operator with pytest
    # coverage but no driver value-hash row).
    import os
    import tempfile

    from jobs.dedup_job import main as job_main

    # the returned frame reads the parquet lazily: release_caches()
    # removes the dir once the sweep is done with it
    out = tempfile.mkdtemp(prefix="semhash_job_export_")
    _EXPORT_DIRS.append(out)
    job_main(
        [
            "--input", os.path.join(sf_dir, "documents.parquet"),
            "--output", out,
            "--columns", "text",
            "--id-col", "doc_id",
            "--threshold", str(JACCARD_T),
            "--mode", "minhash",
            "--shingle-k", "3",
        ],
        stop_spark=False,
    )
    sel = spark.read.parquet(os.path.join(out, "selected"))
    stats = spark.read.parquet(os.path.join(out, "stats"))
    return sel.select(F.col("doc_id").cast("long").alias("doc_id")).crossJoin(
        stats.select(
            "n_selected",
            "n_filtered",
            F.round("duplicate_ratio", 6).alias("duplicate_ratio"),
        )
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dedup_selected": q_exact_dedup_selected,
        "exact_dedup_pairs": q_exact_dedup_pairs,
        "events_first_per_key": q_events_first_per_key,
        "jaccard3_pairs": q_jaccard3_pairs,
        "selfdedup_clusters": q_selfdedup_clusters,
        "selfdedup_clusters_oph": q_selfdedup_clusters_oph,
        "selfdedup_stats": q_selfdedup_stats,
        "filtered_strings": q_filtered_strings,
        "cosine_dedup_clusters": q_cosine_dedup_clusters,
        "cross_dedup_cosine_selected": q_cross_dedup_cosine_selected,
        "cross_dedup_cosine_lsh": q_cross_dedup_cosine_lsh,
        "knn_top10": q_knn_top10,
        "rank_avg_top100": q_rank_avg_top100,
        "outliers_pct10": q_outliers_pct10,
        "token_stats": q_token_stats,
        "quality_scores": q_quality_scores,
        "lang_pred": q_lang_pred,
        "fingerprint": q_fingerprint,
        "hygiene_flags": q_hygiene_flags,
        "containment_pairs": q_containment_pairs,
        "containment_pairs_winnow": q_containment_pairs_winnow,
        "cross_dedup_jaccard": q_cross_dedup_jaccard,
        "rethreshold_selected": q_rethreshold_selected,
        "least_similar": q_least_similar,
        "selected_with_dup_stats": q_selected_with_dup_stats,
        "sha_invariant": q_sha_invariant,
        "rendered_records": q_rendered_records,
        "ivf_knn_top5": q_ivf_knn_top5,
        "media_features_meta": q_media_features_meta,
        "frame_sample": q_frame_sample,
        "outliers_cross_pct20": q_outliers_cross_pct20,
        "containment_lcs": q_containment_lcs,
        "simhash_pairs": q_simhash_pairs,
        "hyperplane_cosine_pairs": q_hyperplane_cosine_pairs,
        "ivf_cosine_pairs": q_ivf_cosine_pairs,
        "representatives": q_representatives,
        "representatives_dpp": q_representatives_dpp,
        "representatives_msd": q_representatives_msd,
        "representatives_cover": q_representatives_cover,
        "representatives_ssd": q_representatives_ssd,
        "candidate_limits": q_candidate_limits,
        "filter_ratios": q_filter_ratios,
        "corpus_truth": q_corpus_truth,
        "job_export": q_job_export,
    }


# ------------------------------------------------------------ oracle SQL

_TOKS = "list_filter(string_split_regex(text, '\\s+'), t -> t <> '')"
_SH3 = f"""
    CASE WHEN len({_TOKS}) = 0
         THEN []::VARCHAR[]
         WHEN len({_TOKS}) < 3
         THEN [array_to_string({_TOKS}, ' ')]
         ELSE list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             FOR i IN range(1, len(w) - 1)])
    END
"""

_JACCARD_PAIRS = f"""
WITH sh AS (
  SELECT doc_id, {_SH3.replace('w[', 'toks[').replace('len(w)', 'len(toks)')} AS g
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
p AS (
  -- exact prefilter: J >= t requires len ratio >= t (|A∩B| <= min)
  SELECT a.doc_id AS a, b.doc_id AS b,
         len(list_intersect(a.g, b.g))::DOUBLE
           / len(list_distinct(a.g || b.g)) AS jac
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
   AND len(a.g) >= 0.8 * len(b.g) AND len(b.g) >= 0.8 * len(a.g)
)
SELECT a, b, round(jac, 6) AS jac FROM p WHERE jac >= {JACCARD_T}
"""

_CLUSTERS_CTE = f"""
WITH RECURSIVE sh AS (
  SELECT doc_id, {_SH3.replace('w[', 'toks[').replace('len(w)', 'len(toks)')} AS g
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
p AS (
  SELECT i, j, jac FROM (
    SELECT a.doc_id AS i, b.doc_id AS j,
           len(list_intersect(a.g, b.g))::DOUBLE
             / len(list_distinct(a.g || b.g)) AS jac
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
     AND len(a.g) >= 0.8 * len(b.g) AND len(b.g) >= 0.8 * len(a.g))
  WHERE jac >= {JACCARD_T}
),
edges AS (SELECT i, j FROM p UNION SELECT j AS i, i AS j FROM p),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.j FROM reach r JOIN edges e ON r.dst = e.i
),
comp AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
"""

_EMB_CLUSTERS_CTE = f"""
WITH RECURSIVE p AS (
  SELECT a.vec_id AS i, b.vec_id AS j
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {COSINE_T}
),
edges AS (SELECT i, j FROM p UNION SELECT j AS i, i AS j FROM p),
reach(src, dst) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.j FROM reach r JOIN edges e ON r.dst = e.i
),
comp AS (SELECT src AS vec_id, min(dst) AS cluster_id FROM reach GROUP BY src)
"""

_RANK_SQL = f"""
WITH s AS (
  SELECT a.vec_id AS q, b.vec_id AS n,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS score
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
),
tk AS (
  SELECT q, score,
         row_number() OVER (PARTITION BY q ORDER BY score DESC, n ASC) AS rk
  FROM s
)
SELECT q AS vec_id, round(avg(score), 6) AS avg_score
FROM tk WHERE rk <= 100 GROUP BY q
"""

_RANK_RAW = _RANK_SQL.replace("round(avg(score), 6)", "avg(score)")

_QUALITY_SQL = f"""
SELECT doc_id,
  round(
    0.4 * least(length(text)::DOUBLE / 200.0, 1.0)
    + 0.3 * (1.0 - least(CASE WHEN length(text) > 0
        THEN len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / length(text)
        ELSE 0.0 END, 0.5) / 0.5)
    + 0.3 * least(
        (CASE WHEN len({_TOKS}) > 0 THEN
          len(list_filter({_TOKS}, t -> list_contains(
             ['the','and','of','to','a','in','is','it','that','for','on','with'],
             lower(t))))::DOUBLE / len({_TOKS})
         ELSE 0.0 END) / 0.2, 1.0),
  6) AS q
FROM documents
"""

_HYGIENE_SQL = f"""
SELECT doc_id,
  len({_TOKS}) < 5 AS too_few_tokens,
  (CASE WHEN len({_TOKS}) > 0 THEN
     list_sum(list_transform({_TOKS}, t -> length(t)))::DOUBLE / len({_TOKS})
   ELSE 0.0 END) > 14.0 AS mean_word_too_long,
  (CASE WHEN length(text) > 0 THEN
     len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / length(text)
   ELSE 0.0 END) > 0.5 AS symbol_heavy,
  (CASE WHEN len({_TOKS}) > 0 THEN
     len(list_distinct(list_transform({_TOKS}, t -> lower(t))))::DOUBLE
       / len({_TOKS}) < 0.2
   ELSE TRUE END) AS few_distinct_tokens,
  abs(len(regexp_extract_all(text, '[\\(\\[\\{{]'))
      - len(regexp_extract_all(text, '[\\)\\]\\}}]'))) > 10
    AS bracket_imbalance,
  NOT (len({_TOKS}) < 5
    OR (CASE WHEN len({_TOKS}) > 0 THEN
          list_sum(list_transform({_TOKS}, t -> length(t)))::DOUBLE / len({_TOKS})
        ELSE 0.0 END) > 14.0
    OR (CASE WHEN length(text) > 0 THEN
          len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / length(text)
        ELSE 0.0 END) > 0.5
    OR (CASE WHEN len({_TOKS}) > 0 THEN
          len(list_distinct(list_transform({_TOKS}, t -> lower(t))))::DOUBLE
            / len({_TOKS}) < 0.2
        ELSE TRUE END)
    OR abs(len(regexp_extract_all(text, '[\\(\\[\\{{]'))
           - len(regexp_extract_all(text, '[\\)\\]\\}}]'))) > 10
  ) AS keep
FROM documents
"""


_LANG_MARKERS_SQL = {
    "en": "['the','and','of','to','a','in','is']",
    "de": "['der','die','das','und','ist','nicht','ein']",
    "fr": "['le','la','les','et','est','une','dans']",
    "es": "['el','los','las','es','una','por','como']",
    "zh": "['de5','shi4','le5','zai4','he2','you3','wo3']",
}


def _lang_pred_sql() -> str:
    hits = ",\n  ".join(
        f"len(list_filter(toks, t -> list_contains({arr}, t))) AS h_{lang}"
        for lang, arr in _LANG_MARKERS_SQL.items()
    )
    # fold in the same order as functions/text.py (reversed list,
    # cond = hits >= best, hits > 0) == first language with max hits
    order = list(_LANG_MARKERS_SQL)  # en, de, fr, es, zh
    best = "0"
    for lang in order:
        best = f"greatest({best}, h_{lang})"
    case = "CASE "
    for lang in order:
        case += f"WHEN h_{lang} > 0 AND h_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform({_TOKS}, t -> lower(t)) AS toks
  FROM documents
),
h AS (SELECT doc_id, {hits} FROM t)
SELECT doc_id, {case} AS lang_pred FROM h
"""


_CONTAINMENT_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SH3.replace('w[', 'toks[').replace('len(w)', 'len(toks)')} AS g
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
)
SELECT a.doc_id AS a, b.doc_id AS b,
       round(len(list_intersect(a.g, b.g))::DOUBLE
             / least(len(a.g), len(b.g)), 6) AS containment
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.g, b.g))::DOUBLE
        / least(len(a.g), len(b.g)) >= 0.9
"""


_FILTERED_CTE = (
    _CLUSTERS_CTE
    + ", filtered AS (SELECT doc_id, cluster_id FROM comp WHERE doc_id <> cluster_id)"
)

_CROSS_JACCARD_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SH3.replace('w[', 'toks[').replace('len(w)', 'len(toks)')} AS g
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
ex AS (
  SELECT q.doc_id AS dup_id, min(i.doc_id) AS exemplar_id
  FROM documents q JOIN documents i
    ON q.doc_id % 5 = 0 AND i.doc_id % 5 <> 0 AND q.text = i.text
  GROUP BY q.doc_id),
sem AS (
  SELECT qa AS dup_id, ib AS exemplar_id, jac,
         row_number() OVER (PARTITION BY qa ORDER BY jac DESC, ib ASC) AS rn
  FROM (
    SELECT q.doc_id AS qa, i.doc_id AS ib,
           len(list_intersect(q.g, i.g))::DOUBLE
             / len(list_distinct(q.g || i.g)) AS jac
    FROM sh q JOIN sh i ON q.doc_id % 5 = 0 AND i.doc_id % 5 <> 0
     AND len(q.g) >= 0.8 * len(i.g) AND len(i.g) >= 0.8 * len(q.g)
    WHERE q.doc_id NOT IN (SELECT dup_id FROM ex))
  WHERE jac >= {JACCARD_T})
SELECT dup_id, exemplar_id, 1.0 AS score FROM ex
UNION ALL
SELECT dup_id, exemplar_id, round(jac, 6) AS score FROM sem WHERE rn = 1
"""

_RETHRESHOLD_SQL = _FILTERED_CTE + """
, keepfil AS (
  SELECT f.doc_id FROM filtered f
  WHERE EXISTS (SELECT 1 FROM p
                WHERE (p.i = f.doc_id OR p.j = f.doc_id) AND p.jac >= 0.9))
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM keepfil)
"""

_LEAST_SIMILAR_SQL = _FILTERED_CTE + """
, prs AS (
  SELECT f.doc_id AS dup_id,
         CASE WHEN p.i = f.doc_id THEN p.j ELSE p.i END AS other_id,
         p.jac AS score
  FROM filtered f JOIN p ON p.i = f.doc_id OR p.j = f.doc_id)
SELECT dup_id, other_id, round(score, 6) AS score
FROM prs ORDER BY score ASC, dup_id ASC, other_id ASC LIMIT 5
"""

_DUP_STATS_SQL = _FILTERED_CTE + """
, best AS (
  SELECT f.doc_id, f.cluster_id, max(p.jac) AS best
  FROM filtered f JOIN p ON p.i = f.doc_id OR p.j = f.doc_id
  GROUP BY f.doc_id, f.cluster_id)
SELECT cluster_id AS exemplar_id, count(*)::BIGINT AS n_dups,
       round(min(best), 6) AS min_score, round(max(best), 6) AS max_score
FROM best GROUP BY cluster_id
"""

_MEDIA_BYTES = "octet_length(encode(repeat(text, 20)))"

# --- sha-simhash oracle (value-hash for F5) ---------------------------
# 60-bit shingle hash = first 15 hex chars of sha256, identical on
# both engines; fingerprint = per-bit unit-weight majority vote.
_HEX15 = (
    "list_sum([ (strpos('0123456789abcdef', substr(sha256(s), i, 1)) - 1)::BIGINT"
    " * (1::BIGINT << (4*(15-i))) FOR i IN range(1, 16) ])"
)

_SIMHASH_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SH3.replace('w[', 'toks[').replace('len(w)', 'len(toks)')} AS g
  FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
),
hv AS (SELECT doc_id, [ {_HEX15} FOR s IN g ] AS h FROM sh),
fp AS (
  SELECT doc_id,
         list_sum([ CASE WHEN 2 * list_sum([ (hh >> b) & 1 FOR hh IN h ]) > len(h)
                         THEN (1::BIGINT << b) ELSE 0 END
                    FOR b IN range(0, 60) ]) AS sim
  FROM hv)
SELECT a.doc_id AS a, b.doc_id AS b, bit_count(xor(a.sim, b.sim))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


def _hyperplane_band_cte() -> str:
    """Shared hyperplane-banding CTE chain: inlines the seeded
    Gaussian matrix (same PCG64(42) family as
    functions/vectors.hyperplane_bands) and ends with
    ``bw(vec_id, word, band)`` — sign bits -> salted band words,
    reproduced independently in DuckDB."""
    import numpy as np

    bits, bands, seed, dim = 64, 16, 42, 64
    width = bits // bands
    rng = np.random.Generator(np.random.PCG64(seed))
    h = rng.standard_normal((bits, dim))
    hlit = "[" + ",".join(
        "[" + ",".join(repr(float(x)) for x in row) + "]" for row in h
    ) + "]"
    return f"""
WITH H AS (SELECT {hlit} AS m),
bitsv AS (
  SELECT vec_id,
         [ CASE WHEN list_dot_product(embedding::DOUBLE[], m[i]) > 0
                THEN 1::BIGINT ELSE 0::BIGINT END
           FOR i IN range(1, {bits} + 1) ] AS bits
  FROM embeddings, H
),
words AS (
  SELECT vec_id,
         [ xor(list_sum([ bits[b*{width} + j + 1] << j FOR j IN range(0, {width}) ]),
               (b::BIGINT << 56))
           FOR b IN range(0, {bands}) ] AS w
  FROM bitsv
),
bw AS (SELECT vec_id, unnest(w) AS word, unnest(range(0, {bands})) AS band FROM words)"""


def _hyperplane_sql() -> str:
    """Random-hyperplane LSH + exact-cosine verify (SELF mode): full
    candidate generation (band-equality self-join) and verification
    run independently in DuckDB, giving the LSH cosine path a
    value-hash oracle instead of rows-only."""
    return _hyperplane_band_cte() + f""",
cand AS (
  SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
  FROM bw a JOIN bw b ON a.band = b.band AND a.word = b.word AND a.vec_id < b.vec_id
)
SELECT i AS a, j AS b,
       round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) AS score
FROM cand JOIN embeddings x ON x.vec_id = cand.i JOIN embeddings y ON y.vec_id = cand.j
WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= {COSINE_T}
"""


def _ivf_sql() -> str:
    """Coarse-IVF candidates + exact-cosine verify (SELF mode): cell
    assignment (rank against the SAME deterministically-trained
    centroids, inlined as literals), probe/home join, least/greatest
    normalize + distinct, and float64 verification all run
    independently in DuckDB. Centroids come from the shared
    ``kmeans_core`` over the sf0.01 embeddings sorted by vec_id —
    exactly what ``train_centroids`` feeds it (orderBy(id).limit)."""
    import duckdb as _dd
    import numpy as _np

    from semhash_spark.operators.knn import kmeans_core

    x = _dd.sql(
        "SELECT embedding FROM read_parquet("
        "'/root/testdata/sf0.01/embeddings.parquet') ORDER BY vec_id"
    ).fetchnumpy()["embedding"]
    cents = kmeans_core(
        _np.vstack([_np.asarray(e, dtype=_np.float64) for e in x]), IVF_CELLS
    )
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(repr(float(v)) for v in c)
        )
        for i, c in enumerate(cents)
    )
    return f"""
WITH cent(cell, v) AS (VALUES {rows}),
scored AS (
  SELECT e.vec_id, c.cell,
         list_inner_product(e.embedding::DOUBLE[], c.v) AS s
  FROM embeddings e CROSS JOIN cent c
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell ASC) AS rk
  FROM scored
),
probes AS (SELECT vec_id, cell FROM ranked WHERE rk <= {IVF_PROBE}),
home AS (SELECT vec_id, cell FROM ranked WHERE rk = 1),
cand AS (
  SELECT DISTINCT least(p.vec_id, h.vec_id) AS i,
                  greatest(p.vec_id, h.vec_id) AS j
  FROM probes p JOIN home h ON p.cell = h.cell AND p.vec_id <> h.vec_id
)
SELECT i AS a, j AS b,
       round(list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]), 6) AS score
FROM cand
JOIN embeddings x ON x.vec_id = cand.i
JOIN embeddings y ON y.vec_id = cand.j
WHERE list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= {COSINE_T}
"""


def _cross_hyperplane_sql() -> str:
    """CROSS-mode LSH existential dedup oracle: a query row
    (vec_id % 5 = 0) is filtered iff it shares >= 1 hyperplane band
    word with an index row (vec_id % 5 != 0) whose exact cosine is
    >= θ; ``selected`` = the rest. Mirrors
    deduplicate(mode="cosine", cosine_fused_cap=0) with the skew cap
    disabled (bucket_cap large in the query config)."""
    return _hyperplane_band_cte() + f""",
hit AS (
  SELECT DISTINCT a.vec_id AS qid
  FROM bw a JOIN bw b ON a.band = b.band AND a.word = b.word
  JOIN embeddings x ON x.vec_id = a.vec_id
  JOIN embeddings y ON y.vec_id = b.vec_id
  WHERE a.vec_id % 5 = 0 AND b.vec_id % 5 <> 0
    AND list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= {COSINE_T}
)
SELECT vec_id FROM embeddings
WHERE vec_id % 5 = 0 AND vec_id NOT IN (SELECT qid FROM hit)
"""


# --- pinned goldens (VERDICT r1 #4, de-circularized r3) ---------------
# containment_lcs and representatives are deterministic but not
# SQL-expressible (rolling-hash LCS; driver-side MMR/DPP). Their
# sf0.01 values are pinned as literal golden tables so the driver's
# value-hash gate covers them. The pins are generated by
# tools/oracle_goldens.py — an INDEPENDENT implementation importing
# nothing from semhash_spark (all-pairs containment, O(n*m) DP LCS,
# brute-force ranking, scalar-loop MMR, Schur-complement DPP) — so a
# hash-green row is genuine cross-verification of the pipeline, not a
# determinism pin (VERDICT r2 #1). Regenerate with
# tools/gen_goldens.py when the testdata changes;
# tests/test_oracle.py asserts pin == independent oracle.
_LCS_GOLDEN = [
    (8, 245, 1.0), (26, 455, 1.0), (31, 383, 1.0), (44, 446, 1.0),
    (45, 267, 1.0), (45, 413, 1.0), (58, 293, 1.0), (61, 185, 1.0),
    (70, 447, 1.0), (72, 377, 1.0), (87, 134, 1.0), (92, 450, 1.0),
    (98, 290, 1.0), (107, 387, 1.0), (120, 332, 1.0), (152, 178, 1.0),
    (166, 323, 1.0), (267, 413, 1.0), (285, 301, 1.0), (295, 374, 1.0),
    (310, 389, 1.0), (326, 457, 1.0), (393, 420, 1.0), (435, 486, 1.0),
    (458, 462, 1.0),
]
_REP_GOLDEN = [
    (254, 1), (350, 2), (443, 3), (70, 4), (89, 5),
    (386, 6), (126, 7), (263, 8), (60, 9), (20, 10),
]

_LCS_GOLDEN_SQL = "SELECT a::BIGINT AS a, b::BIGINT AS b, lcs_frac::DOUBLE AS lcs_frac FROM (VALUES " + ", ".join(
    f"({a}, {b}, {f})" for a, b, f in _LCS_GOLDEN
) + ") t(a, b, lcs_frac)"

_REP_DPP_GOLDEN = [
    (254, 1), (436, 2), (53, 3), (126, 4), (421, 5),
    (20, 6), (12, 7), (195, 8), (445, 9), (198, 10),
]

_REP_MSD_GOLDEN = [
    (254, 1), (350, 2), (443, 3), (161, 4), (73, 5),
    (436, 6), (499, 7), (318, 8), (460, 9), (221, 10),
]
_REP_COVER_GOLDEN = [
    (254, 1), (53, 2), (443, 3), (150, 4), (256, 5),
    (436, 6), (101, 7), (39, 8), (477, 9), (7, 10),
]
_REP_SSD_GOLDEN = [
    (254, 1), (436, 2), (53, 3), (69, 4), (195, 5),
    (282, 6), (445, 7), (464, 8), (379, 9), (442, 10),
]


def _values_sql(rows):
    return (
        "SELECT vec_id::BIGINT AS vec_id, pos::BIGINT AS pos FROM (VALUES "
        + ", ".join(f"({v}, {p})" for v, p in rows)
        + ") t(vec_id, pos)"
    )


_REP_GOLDEN_SQL = _values_sql(_REP_GOLDEN)
_REP_DPP_GOLDEN_SQL = _values_sql(_REP_DPP_GOLDEN)
_REP_MSD_GOLDEN_SQL = _values_sql(_REP_MSD_GOLDEN)
_REP_COVER_GOLDEN_SQL = _values_sql(_REP_COVER_GOLDEN)
_REP_SSD_GOLDEN_SQL = _values_sql(_REP_SSD_GOLDEN)


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dedup_selected": """
            SELECT doc_id, lang, source FROM (
              SELECT doc_id, lang, source,
                     row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
              FROM documents) WHERE rn = 1
        """,
        "exact_dedup_pairs": """
            SELECT doc_id AS dup_id,
                   min(doc_id) OVER (PARTITION BY lang, source) AS exemplar_id
            FROM documents
            QUALIFY doc_id <> exemplar_id
        """,
        "events_first_per_key": """
            SELECT event_id, user_id, event_type FROM (
              SELECT event_id, user_id, event_type,
                     row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY event_id) AS rn
              FROM events) WHERE rn = 1
        """,
        "jaccard3_pairs": _JACCARD_PAIRS,
        "selfdedup_clusters_oph": _CLUSTERS_CTE
        + "SELECT doc_id, cluster_id FROM comp ORDER BY doc_id",
        "selfdedup_clusters": _CLUSTERS_CTE
        + "SELECT doc_id, cluster_id FROM comp",
        "selfdedup_stats": _CLUSTERS_CTE
        + """
        SELECT
          count(*) FILTER (doc_id = cluster_id)::BIGINT AS n_selected,
          count(*) FILTER (doc_id <> cluster_id)::BIGINT AS n_filtered,
          0::BIGINT AS n_exact,
          round(count(*) FILTER (doc_id <> cluster_id)::DOUBLE / count(*), 6)
            AS duplicate_ratio
        FROM comp
        """,
        "filtered_strings": _CLUSTERS_CTE
        + """
        SELECT c.doc_id AS dup_id,
               replace(coalesce(d.text, ''), chr(9), ' ') AS record,
               replace(coalesce(e.text, ''), chr(9), ' ') AS duplicate_of
        FROM comp c
        JOIN documents d ON d.doc_id = c.doc_id
        JOIN documents e ON e.doc_id = c.cluster_id
        WHERE c.doc_id <> c.cluster_id
        """,
        "cosine_dedup_clusters": _EMB_CLUSTERS_CTE
        + "SELECT vec_id, cluster_id FROM comp",
        "cross_dedup_cosine_selected": f"""
            SELECT a.vec_id FROM embeddings a
            WHERE a.vec_id % 5 = 0 AND NOT EXISTS (
              SELECT 1 FROM embeddings b
              WHERE b.vec_id % 5 <> 0
                AND list_cosine_similarity(a.embedding::DOUBLE[],
                                           b.embedding::DOUBLE[]) >= {COSINE_T})
        """,
        "cross_dedup_cosine_lsh": _cross_hyperplane_sql(),
        "knn_top10": """
            SELECT q AS query_id, n AS index_id, rk FROM (
              SELECT a.vec_id AS q, b.vec_id AS n,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]) DESC,
                                b.vec_id ASC) AS rk
              FROM embeddings a JOIN embeddings b ON b.vec_id >= 50
              WHERE a.vec_id < 50) WHERE rk <= 10
        """,
        "rank_avg_top100": _RANK_SQL,
        "outliers_pct10": f"""
            WITH r AS ({_RANK_RAW}),
            ranked AS (
              SELECT vec_id,
                     row_number() OVER (ORDER BY avg_score ASC, vec_id DESC) AS rk
              FROM r)
            SELECT vec_id FROM ranked
            WHERE rk <= ceil((SELECT count(*) FROM r) * 0.1)
        """,
        "token_stats": f"""
            SELECT doc_id,
                   len({_TOKS})::BIGINT AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS n_bpe,
                   length(text)::BIGINT AS n_chars_calc
            FROM documents
        """,
        "quality_scores": _QUALITY_SQL,
        "lang_pred": _lang_pred_sql(),
        "fingerprint": """
            SELECT doc_id, sha256(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
            FROM documents
        """,
        "hygiene_flags": _HYGIENE_SQL,
        "containment_pairs": _CONTAINMENT_SQL,
        "containment_pairs_winnow": _CONTAINMENT_SQL,
        "cross_dedup_jaccard": _CROSS_JACCARD_SQL,
        "rethreshold_selected": _RETHRESHOLD_SQL,
        "least_similar": _LEAST_SIMILAR_SQL,
        "selected_with_dup_stats": _DUP_STATS_SQL,
        "sha_invariant": "SELECT doc_id, sha256(text) AS sha FROM documents",
        "rendered_records": """
            SELECT doc_id,
                   replace(coalesce(lang, ''), chr(9), ' ') || chr(9)
                   || replace(coalesce(source, ''), chr(9), ' ') AS rendered
            FROM documents
        """,
        "ivf_knn_top5": """
            SELECT q AS query_id, n AS index_id, rk FROM (
              SELECT a.vec_id AS q, b.vec_id AS n,
                     row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[]) DESC,
                                b.vec_id ASC) AS rk
              FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id)
            WHERE rk <= 5
        """,
        "media_features_meta": f"""
            SELECT doc_id AS media_id,
                   CASE WHEN lang = 'en' THEN 'image' ELSE 'audio' END AS kind,
                   16::BIGINT AS feat_dim,
                   {_MEDIA_BYTES}::BIGINT AS n_bytes
            FROM documents
        """,
        "frame_sample": f"""
            SELECT doc_id AS media_id,
                   unnest(generate_series(
                     0,
                     greatest(cast(floor({_MEDIA_BYTES} / 1024.0) AS int) - 1, 0),
                     2))::BIGINT AS frame_idx
            FROM documents
        """,
        "outliers_cross_pct20": """
            WITH s AS (
              SELECT a.vec_id AS q, b.vec_id AS n,
                     list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]) AS score
              FROM embeddings a JOIN embeddings b
                ON a.vec_id < 100 AND b.vec_id >= 100),
            tk AS (
              SELECT q, score,
                     row_number() OVER (PARTITION BY q
                                        ORDER BY score DESC, n ASC) AS rk
              FROM s),
            r AS (SELECT q AS vec_id, avg(score) AS avg_score
                  FROM tk WHERE rk <= 100 GROUP BY q),
            ranked AS (
              SELECT vec_id,
                     row_number() OVER (ORDER BY avg_score ASC, vec_id DESC) AS rk
              FROM r)
            SELECT vec_id FROM ranked
            WHERE rk <= ceil((SELECT count(*) FROM r) * 0.2)
        """,
        "simhash_pairs": _SIMHASH_SQL,
        "hyperplane_cosine_pairs": _hyperplane_sql(),
        "ivf_cosine_pairs": _ivf_sql(),
        "containment_lcs": _LCS_GOLDEN_SQL,
        "representatives": _REP_GOLDEN_SQL,
        "representatives_dpp": _REP_DPP_GOLDEN_SQL,
        "representatives_msd": _REP_MSD_GOLDEN_SQL,
        "representatives_cover": _REP_COVER_GOLDEN_SQL,
        "representatives_ssd": _REP_SSD_GOLDEN_SQL,
        # R4 clamp chain re-derived in SQL: int(total*0.1) -> floor for
        # positive totals; then max(sel), max(100), min(1000), min(total)
        "candidate_limits": """
            WITH t AS (
              SELECT 'all' AS total_src, count(*)::BIGINT AS total FROM documents
              UNION ALL
              SELECT 'mid', count(*)::BIGINT FROM documents WHERE n_chars > 300
              UNION ALL
              SELECT 'tiny', count(*)::BIGINT FROM documents WHERE doc_id < 30
            ),
            s AS (SELECT unnest([1, 50, 200, 2000])::BIGINT AS selection_size)
            SELECT total_src, total, selection_size,
                   least(greatest(cast(floor(total * 0.1) AS BIGINT),
                                  selection_size, 100),
                         1000, total) AS cand_limit
            FROM t, s
        """,
        # R7 ratio properties: the outlier cut keeps n - ceil(n*0.1)
        "filter_ratios": """
            WITH n AS (SELECT count(*)::BIGINT AS n FROM embeddings)
            SELECT (n - cast(ceil(n * 0.1) AS BIGINT)) AS n_selected,
                   cast(ceil(n * 0.1) AS BIGINT) AS n_filtered,
                   cast(ceil(n * 0.1) AS BIGINT) / n::DOUBLE AS filter_ratio,
                   1.0 - cast(ceil(n * 0.1) AS BIGINT) / n::DOUBLE AS selected_ratio
            FROM n
        """,
        # S5 ground truth from generator id-arithmetic, NOT from its
        # output: truth_exact_pairs(2000) = {i : i%100==1} -> 20 rows
        "corpus_truth": """
            SELECT 2000::BIGINT AS n_files,
                   1980::BIGINT AS n_distinct_sha,
                   20::BIGINT AS n_exact_dups
        """,
        # S4: what the job WROTE must equal the clusters oracle's
        # selected set + its stats scalars
        "job_export": _CLUSTERS_CTE
        + """
        , st AS (
          SELECT
            count(*) FILTER (doc_id = cluster_id)::BIGINT AS n_selected,
            count(*) FILTER (doc_id <> cluster_id)::BIGINT AS n_filtered,
            round(count(*) FILTER (doc_id <> cluster_id)::DOUBLE / count(*), 6)
              AS duplicate_ratio
          FROM comp
        )
        SELECT c.doc_id::BIGINT AS doc_id,
               st.n_selected, st.n_filtered, st.duplicate_ratio
        FROM comp c, st
        WHERE c.doc_id = c.cluster_id
        """,
    }
