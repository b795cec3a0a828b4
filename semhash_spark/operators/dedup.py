"""The flagship dedup pipelines.

``self_deduplicate`` — reference semhash/semhash.py:233-300. The
reference's greedy in-order seen-set scan becomes min-id connected
components over the verified duplicate-edge graph (SURVEY.md §2.5 D2
discusses the equivalence; parity is asserted against the pytest
oracle, the scale target is dup-pair recall >= 0.99).

``deduplicate`` (cross) — reference semhash/semhash.py:170-231. No
clustering: a query row is filtered iff ANY fitted row matches at or
above threshold (existential semi/anti-join split).

Plan shape (self mode, minhash):

  input ──exact stage (1 shuffle on exact_key)──► exemplars
     exemplars ──shingles/signature (codegen, no shuffle)──► feats
     feats (id, shingles) ──distributed parquet write──► blob
     band explode ──1 shuffle on the band key, sorted by id──►
     bucket generator: pairs scored in-task against the mmap'd blob
       (skew-guarded, exact float64 Jaccard)──► edges >= θ ──distinct,
       collected to the driver; blob removed──►
     edges ──large-star/small-star CC (O(log n) rounds)──► clusters
     clusters ──join back (1 shuffle)──► selected / filtered / pairs

Content and signatures never enter the band shuffle (ids+hashes
only), and no candidate pair relation exists: the generator emits
only verified edges, collected before the blob is removed.
Without blob transport, or with a blob above
VERIFY_BROADCAST_MAX_BYTES, the edges come from candidate pairs
(distinct) joined with the shingle arrays instead (``_edges_minhash``).

Plan shape (self mode, cosine, below the fused caps):

  exemplars ──encoder (pandas UDF)──► feats (id, embedding)
     feats ──distributed parquet write──► blob (one per fit)
     feats ──mapInPandas: f32 tiled gemm against the mmap'd blob,
       f64 rescore of the survivors──► edges >= θ (a < b, max_k cap)
     edges ──CC──► clusters ──join back──► selected / filtered / pairs

Above the caps the edges come from IVF cells (``cosine_candidates=
"ivf"``) or hyperplane-LSH candidates + verify. Called from a fitted
``SparkSemHash`` (``fitted``), the exact stage, the features, their
size and the blob are the fit's, and the edges are read from the fit's
one scan that also carries the top-k averages of its self ranking
(``rank.cosine_self_scan``).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.datamodels import DedupResult
from semhash_spark.functions.encoder import featurize
from semhash_spark.functions.hashing import (
    hamming64,
    minhash_signature,
    shingle_hashes,
    simhash64,
    simhash_bands,
)
from semhash_spark.operators.components import connected_components
from semhash_spark.operators.exact import cross_exact_split, self_exact_dedup
from semhash_spark.operators.lsh import (
    band_table,
    candidate_pairs_cross,
    candidate_pairs_self,
    explode_band_array,
    verified_edges_self,
)
from semhash_spark.operators.verify import detach, verify_cosine, verify_jaccard

_TEXT_MODES = ("minhash", "simhash", "jaccard_exact")

# the feature columns each mode's add_features attaches — the single
# source of truth for every narrow feature projection (api.fit's
# persisted memo, self_deduplicate's feats select)
MODE_FEATURE_COLS = {
    "minhash": ("shingles", "sig"),
    "simhash": ("shingles", "sim64"),
    "cosine": None,  # cfg.embedding_col — resolved at the call site
    "jaccard_exact": ("shingles",),
}


def mode_feature_cols(mode: str, cfg) -> list[str]:
    if mode not in MODE_FEATURE_COLS:
        raise ValueError(f"unknown mode {mode!r}")
    cols = MODE_FEATURE_COLS[mode]
    return [cfg.embedding_col] if cols is None else list(cols)


def add_features(df: DataFrame, cfg: DedupConfig, mode: str) -> DataFrame:
    """Attach the feature column(s) a mode needs.

    minhash   -> shingles + sig        (JVM expressions)
    simhash   -> shingles + sim64      (JVM expressions)
    cosine    -> embedding             (pandas UDF hashing encoder)
    jaccard_exact -> shingles only     (no signature; brute-force)
    Multi-column records are rendered to one string per the reference
    (tab-join, records.py:6-17) before shingling; for embeddings each
    column is encoded separately and concatenated (utils.py:64-84).
    """
    if mode in _TEXT_MODES:
        if len(cfg.columns) == 1:
            text_col = cfg.columns[0]
        else:
            from semhash_spark.operators.ids import rendered_record

            df = df.withColumn("_rendered", rendered_record(cfg.columns, df))
            text_col = "_rendered"
        df = df.withColumn(
            "shingles", shingle_hashes(text_col, cfg.shingle_k, cfg.shingle_mode)
        )
        if mode == "minhash":
            if getattr(cfg, "minhash_family", "kperm") == "oph":
                from semhash_spark.functions.hashing import oph_signature

                df = df.withColumn("sig", oph_signature("shingles", cfg.num_perm))
            else:
                df = df.withColumn("sig", minhash_signature("shingles", cfg.num_perm))
        elif mode == "simhash":
            df = df.withColumn("sim64", simhash64("shingles"))
        return df.drop("_rendered")
    if mode == "cosine":
        if cfg.embedding_col in df.columns:
            return df
        return featurize(df, cfg.columns, cfg.embedding_dim, cfg.embedding_col,
                         cfg.embedding_ngram)
    raise ValueError(f"unknown mode {mode!r}")


def _edges_minhash(feats: DataFrame, cfg: DedupConfig, id_col: str,
                   threshold: float) -> DataFrame:
    """Minhash edges (a, b, score >= threshold): LSH candidates verified
    inside the bucket generator against the (id, shingles) blob,
    collected before the blob is removed (``lsh.verified_edges_self``).
    Without blob transport, or with a blob above
    VERIFY_BROADCAST_MAX_BYTES, distinct candidates -> ``verify_jaccard``
    join instead."""
    edges = verified_edges_self(_minhash_bands(feats, cfg, id_col),
                                feats.where(F.size("shingles") > 0), cfg.bucket_cap,
                                id_col, "jaccard", threshold, "lshverify")
    if edges is None:
        cands = _candidates_self(feats, cfg, "minhash", id_col)
        edges = verify_jaccard(cands, feats, "shingles", id_col, threshold,
                               strategy="join")
    return edges


def _minhash_bands(feats: DataFrame, cfg: DedupConfig, id_col: str) -> DataFrame:
    # tokenless docs (empty shingle set -> all-sentinel signature)
    # can never verify >= threshold, but their IDENTICAL signatures
    # would co-bucket every such doc into one mega band bucket at
    # scale — prune them from banding (and from the blob) entirely
    return band_table(feats.where(F.size("shingles") > 0), "sig", cfg.bands, id_col,
                      cfg.rows_per_band)


def _candidates_self(feats: DataFrame, cfg: DedupConfig, mode: str, id_col: str,
                     persisted: list | None = None) -> DataFrame:
    if mode == "minhash":
        return candidate_pairs_self(_minhash_bands(feats, cfg, id_col), cfg.bucket_cap,
                                    id_col, persisted)
    if mode == "simhash":
        banded = feats.where(F.size("shingles") > 0).withColumn(
            "shb", simhash_bands("sim64", cfg.simhash_bands))
        bt = explode_band_array(banded, "shb", id_col)
        pairs = candidate_pairs_self(bt, cfg.bucket_cap, id_col, persisted)
        sims = feats.select(id_col, "sim64")
        pairs = (
            pairs.join(sims.select(F.col(id_col).alias("a"), F.col("sim64").alias("_sa")), "a")
            .join(sims.select(F.col(id_col).alias("b"), F.col("sim64").alias("_sb")), "b")
            .where(hamming64("_sa", "_sb") <= cfg.simhash_max_hamming)
            .select("a", "b")
        )
        return pairs
    if mode == "cosine":
        # scale path: random-hyperplane LSH banding (Charikar SRP).
        # Small inputs never reach here — self_deduplicate fuses
        # candidates+verify into one broadcast matmul below
        # VERIFY_BROADCAST_CAP.
        from semhash_spark.functions.vectors import hyperplane_bands

        banded = feats.withColumn(
            "hpb",
            hyperplane_bands(
                cfg.embedding_col,
                cfg.hyperplane_bits,
                cfg.hyperplane_bands,
                cfg.hyperplane_seed,
                cfg.embedding_dim,
            ),
        )
        bt = explode_band_array(banded, "hpb", id_col)
        return candidate_pairs_self(bt, cfg.bucket_cap, id_col, persisted)
    if mode == "jaccard_exact":
        # brute-force all-pairs: correctness baseline / small inputs.
        ids = feats.select(F.col(id_col))
        a = ids.select(F.col(id_col).alias("a"))
        b = ids.select(F.col(id_col).alias("b"))
        return a.crossJoin(b).where(F.col("a") < F.col("b"))
    raise ValueError(f"unknown mode {mode!r}")


def _verify(pairs: DataFrame, feats: DataFrame, cfg: DedupConfig, mode: str,
            id_col: str, threshold: float, left: str = "a", right: str = "b") -> DataFrame:
    if mode == "cosine":
        return verify_cosine(pairs, feats, cfg.embedding_col, id_col, threshold, left, right)
    # auto: broadcast-blob when the (byte-measured) feature table fits
    # per executor — since round 2 the blob pack is a DISTRIBUTED
    # parquet write + per-worker mmap'd read (no serial driver hop),
    # so the measured ~8x kernel win over the join form comes without
    # an Amdahl driver stage; join is the automatic fallback above cap
    return verify_jaccard(pairs, feats, "shingles", id_col, threshold, left, right,
                          strategy="auto")


@dataclass(frozen=True)
class FittedFrames:
    """The caches a fitted ``SparkSemHash`` holds for its table, which
    ``self_deduplicate`` reads instead of recomputing. Their owner is
    the fit: ``DedupResult.release()`` leaves them alone.

    * ``keyed``: ``self_exact_dedup`` of the table (with the key);
    * ``feats``: the exemplars' ``(id, *mode_feature_cols)``;
    * ``feat_size``: cosine mode, ``_feat_bytes`` of ``feats``;
    * ``cosine_edges``: cosine mode, ``threshold -> (a, b, score)``
      edges of the fused scan over the fit's blob; called only when the
      fused plan is chosen.
    """

    keyed: DataFrame
    feats: DataFrame
    feat_size: tuple[int, int] | None = None
    cosine_edges: Callable[[float], DataFrame] | None = None


def self_deduplicate(
    df: DataFrame,
    cfg: DedupConfig,
    mode: str = "minhash",
    threshold: float | None = None,
    checkpointer=None,
    extra_edges: DataFrame | None = None,
    stage_times: dict | None = None,
    fitted: FittedFrames | None = None,
) -> DedupResult:
    """Dedup within one table. ``df`` must carry ``cfg.id_col``.

    :param extra_edges: optional additional duplicate edges (a, b,
        score) to union in before clustering — the containment
        (substring) stage feeds this.
    :param stage_times: pass a dict to FORCE stage-by-stage
        materialization and collect per-stage wall-clock (bench
        instrumentation; adds count() barriers, so leave None in
        production).
    :param fitted: the caches a fitted ``SparkSemHash`` already holds
        for ``df`` (see ``FittedFrames``); they are read instead of
        recomputed, and left out of the result's ``_persisted``.
    """
    import time as _time

    threshold = cfg.threshold if threshold is None else threshold
    id_col = cfg.id_col
    persisted: list = []

    def ck(name, build):
        return checkpointer.stage(name, build) if checkpointer else build()

    def mark(name, frame):
        if stage_times is not None:
            t0 = _time.perf_counter()
            frame.count()
            stage_times[name] = round(_time.perf_counter() - t0, 3)

    # with_key=False: every output of this pipeline drops exact_key,
    # so the wide branch skips the second sha pass entirely
    keyed = ck("exact", lambda: fitted.keyed if fitted else self_exact_dedup(
        df, cfg.columns, id_col, with_key=False))
    if checkpointer is None and fitted is None:
        # selected/filtered/pairs are separate actions on this DAG;
        # without a parquet checkpoint, cache the shared stages so
        # each action doesn't replay the exact window + LSH joins
        keyed = keyed.persist()
        persisted.append(keyed)
    mark("exact", keyed)
    exemplars = keyed.where(~F.col("is_exact_dup"))
    exact_dups = keyed.where(F.col("is_exact_dup"))

    # featurize exemplars only — the reference's "embed uniques only"
    # optimization (semhash/semhash.py:71-88).
    feat_cols = mode_feature_cols(mode, cfg)
    feats = ck(
        f"features_{mode}",
        lambda: fitted.feats if fitted else add_features(exemplars, cfg, mode).select(
            id_col, *feat_cols),
    )
    if checkpointer is None and fitted is None:
        # materialize sketches so downstream band/verify joins read
        # computed arrays instead of re-deriving them per reference
        # (with a checkpointer the parquet stage plays this role)
        feats = feats.persist()
        persisted.append(feats)
    mark("featurize", feats)

    from semhash_spark.operators.verify import (
        _feat_bytes,
        cosine_fused_fits,
        cosine_threshold_edges,
    )

    if mode == "cosine":
        n_feats, feat_bytes = (
            fitted.feat_size if fitted and fitted.feat_size
            else _feat_bytes(feats, cfg.embedding_col)
        )
    # the fused matmul needs the executor-side blob; without transport
    # (cluster master, no spark.semhash.blobDir) fall through to the
    # IVF or hyperplane-LSH + verify paths, which need none
    if mode == "cosine" and cosine_fused_fits(cfg, n_feats, feat_bytes, feats.sparkSession):
        # fused candidates+verify: one broadcast matmul pass emits
        # only passing pairs (no |n|^2 pair materialization)
        edges = ck(
            f"edges_{mode}",
            lambda: fitted.cosine_edges(threshold) if fitted and fitted.cosine_edges
            else cosine_threshold_edges(
                feats, threshold, id_col, cfg.embedding_col,
                max_k=cfg.cosine_max_k, n_rows=n_feats,
            ),
        )
    elif mode == "cosine" and cfg.cosine_candidates == "ivf":
        # above-cap IVF plan: coarse cells + per-cell fused gemm —
        # the mid-threshold scale path (see cosine_threshold_edges_ivf)
        from semhash_spark.operators.verify import cosine_threshold_edges_ivf

        edges = ck(
            f"edges_{mode}",
            lambda: cosine_threshold_edges_ivf(
                feats, threshold, id_col, cfg.embedding_col,
                n_cells=cfg.ivf_cells, n_probe=cfg.ivf_probe,
                cell_cap=cfg.ivf_cell_cap, max_k=cfg.cosine_max_k,
                seed=cfg.hyperplane_seed, n_rows=n_feats,
                group_cap=cfg.ivf_group_cap,
                payload_blob=cfg.ivf_payload_blob,
            ),
        )
    elif mode == "minhash":
        edges = ck(
            f"edges_{mode}",
            lambda: _edges_minhash(feats, cfg, id_col, threshold).select(
                "a", "b", "score"
            ),
        )
    else:
        cands = ck(
            f"candidates_{mode}",
            lambda: _candidates_self(feats, cfg, mode, id_col, persisted),
        )
        if stage_times is not None:
            cands = cands.persist()
            persisted.append(cands)
            mark("candidates", cands)
        edges = ck(
            f"edges_{mode}",
            lambda: _verify(cands, feats, cfg, mode, id_col, threshold).select(
                "a", "b", "score"
            ),
        )
    if extra_edges is not None:
        edges = edges.unionByName(extra_edges.select("a", "b", "score")).distinct()
    if checkpointer is None:
        edges = edges.persist()
        persisted.append(edges)
    mark("verify", edges)

    from semhash_spark.operators.components import DRIVER_CC_CAP

    cc_cap = cfg.driver_cc_cap if cfg.driver_cc_cap is not None else DRIVER_CC_CAP
    cc = ck(
        f"clusters_{mode}",
        lambda: connected_components(
            edges.select(F.col("a").alias("src"), F.col("b").alias("dst")), id_col,
            driver_cap=cc_cap,
        ),
    )
    if checkpointer is None:
        # narrow (id, cluster_id) cache — one row per dup-graph node —
        # so the star path's union/distinct never re-runs per action
        # (the driver path's LocalRelation is cheap either way)
        cc = cc.persist()
        persisted.append(cc)

    ex = exemplars.join(cc, id_col, "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    )
    # selected/filtered/pairs are separate downstream actions over
    # this join, but caching it (round 2..5) materialized a SECOND
    # full-width copy of the corpus (keyed above is already cached and
    # cc is a small broadcast): each action now re-runs the broadcast
    # join against the keyed cache with column pruning — a count()
    # reads two narrow columns instead of filling a wide cache, and
    # the duplicate cache memory is gone at scale.
    sel = ex.where(F.col("cluster_id") == F.col(id_col)).drop(
        "cluster_id", "exemplar_id", "is_exact_dup", "exact_key"
    )

    # best-neighbor score for each dropped exemplar
    sym = edges.select(F.col("a").alias(id_col), F.col("b").alias("nbr"), "score").union(
        edges.select(F.col("b").alias(id_col), F.col("a").alias("nbr"), "score")
    )
    best = sym.groupBy(id_col).agg(F.max("score").alias("best_score"))
    sem_filtered = (
        ex.where(F.col("cluster_id") != F.col(id_col))
        .drop("exemplar_id", "is_exact_dup", "exact_key")
        .withColumnRenamed("cluster_id", "exemplar_id")
        .join(best, id_col, "left")
        .withColumn("score", F.coalesce("best_score", F.lit(1.0)))
        .drop("best_score")
        .withColumn("exact", F.lit(False))
    )
    exact_filtered = (
        exact_dups.drop("cluster_id", "is_exact_dup", "exact_key")
        .withColumn("score", F.lit(1.0))
        .withColumn("exact", F.lit(True))
    )
    filtered = exact_filtered.unionByName(sem_filtered)

    sem_pairs = (
        sym.join(
            ex.where(F.col("cluster_id") != F.col(id_col)).select(id_col),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("dup_id"),
            F.col("nbr").alias("other_id"),
            "score",
            F.lit(False).alias("exact"),
        )
    )
    exact_pairs = exact_dups.select(
        F.col(id_col).alias("dup_id"),
        F.col("exemplar_id").alias("other_id"),
        F.lit(1.0).alias("score"),
        F.lit(True).alias("exact"),
    )
    pairs = exact_pairs.unionByName(sem_pairs)

    if checkpointer:
        checkpointer.write_metrics()
    return DedupResult(
        selected=sel,
        filtered=filtered,
        pairs=pairs,
        threshold=threshold,
        columns=tuple(cfg.columns),
        id_col=id_col,
        _persisted=persisted,
    )


def deduplicate(
    query_df: DataFrame,
    index_df: DataFrame,
    cfg: DedupConfig,
    mode: str = "minhash",
    threshold: float | None = None,
    index_feats: DataFrame | None = None,
    broadcast_query: bool = False,
    index_keys: DataFrame | None = None,
    index_bands: DataFrame | None = None,
    index_blob_ref: dict | None = None,
    index_bands_thinned: bool = False,
    index_cross_blobs: dict | None = None,
) -> DedupResult:
    """Cross-dataset dedup of ``query_df`` against fitted ``index_df``.

    Existential semantics (reference semhash.py:209-221): a query row
    with ANY >=threshold neighbor in the index is filtered; no
    clustering. ``exemplar_id`` = best-matching index row (max score,
    ties to min id).

    ``index_keys`` / ``index_bands``: precomputed (usually cached)
    index-side exact-key table and band table — the fitted side of a
    repeated-query workload is static, so the api memoizes both and
    each ``deduplicate`` call pays only query-side work (the
    reference benchmark's dedup-only split, benchmarks/README.md:
    43-61, where a 4.3k-query batch scores against 1.8M fitted in
    under a second).
    """
    threshold = cfg.threshold if threshold is None else threshold
    id_col = cfg.id_col
    # a memoized, PRE-THINNED index band table (api.prepare_index)
    # skips the per-call full-index bucket-size aggregation
    cross_cap = (
        None if (index_bands is not None and index_bands_thinned)
        else cfg.bucket_cap
    )

    persisted: list = []
    if mode == "minhash" and index_cross_blobs is not None:
        # single-job blob path (reference-benchmark shape): exact +
        # band-probe + verify fused into one map-only pass over the
        # query side against the fitted index's mmap blobs — no
        # index-side scan per call (operators/crossblob.py). The blobs
        # are the fit's: the matches are detached, so no result frame
        # reads them
        from semhash_spark.operators.crossblob import cross_match_blob

        out = detach(cross_match_blob(query_df, cfg, index_cross_blobs, threshold, id_col))
        ex_hits = out.where(F.col("exact")).select(
            F.col("query_id"), F.col("match_id").alias("exemplar_id")
        )
        hits = out.where(~F.col("exact")).select(
            "query_id", F.col("match_id").alias("index_id"), "score"
        )
        kept = query_df.join(
            ex_hits.select("query_id"),
            query_df[id_col] == F.col("query_id"), "left_anti",
        ).persist()
        persisted.append(kept)
        exact_dups = query_df.join(
            ex_hits, query_df[id_col] == F.col("query_id"), "inner"
        ).drop("query_id")
        return _cross_result(
            kept, exact_dups, hits, cfg, threshold, id_col, persisted
        )
    kept, exact_dups = cross_exact_split(
        query_df, index_df, cfg.columns, id_col, index_keys=index_keys
    )
    kept = kept.persist()
    persisted.append(kept)

    # the index side collapses to exact-group exemplars before matching
    idx_ex = self_exact_dedup(index_df, cfg.columns, id_col, with_key=False)
    idx_exemplars = idx_ex.where(~F.col("is_exact_dup")).drop(
        "exemplar_id", "is_exact_dup"
    )

    if index_feats is None:
        index_feats = add_features(idx_exemplars, cfg, mode).persist()
        persisted.append(index_feats)
    q_feats = add_features(kept, cfg, mode).persist()
    persisted.append(q_feats)

    hits = None  # set directly by the fused cosine path
    if mode == "minhash":
        qb = band_table(q_feats.where(F.size("shingles") > 0),
                        "sig", cfg.bands, id_col, cfg.rows_per_band)
        ib = (
            index_bands
            if index_bands is not None
            else band_table(index_feats.where(F.size("shingles") > 0),
                            "sig", cfg.bands, id_col, cfg.rows_per_band)
        )
        cands = candidate_pairs_cross(qb, ib, id_col, broadcast_query,
                                      bucket_cap=cross_cap)
    elif mode == "simhash":
        qb = explode_band_array(
            q_feats.where(F.size("shingles") > 0)
            .withColumn("shb", simhash_bands("sim64", cfg.simhash_bands)),
            "shb", id_col,
        )
        ib = (
            index_bands
            if index_bands is not None
            else explode_band_array(
                index_feats.where(F.size("shingles") > 0).withColumn(
                    "shb", simhash_bands("sim64", cfg.simhash_bands)
                ),
                "shb",
                id_col,
            )
        )
        cands = candidate_pairs_cross(qb, ib, id_col, broadcast_query,
                                      bucket_cap=cross_cap)
    elif mode == "cosine":
        # Never a cartesian (VERDICT r3 #1). Two scale-safe plans,
        # mirroring _candidates_self/self_deduplicate:
        #   index fits the blob caps -> FUSED matmul: index blob +
        #     streamed query batches (the reference benchmark shape,
        #     4.3k queries vs 1.8M fitted — one |Q_batch| x |I| BLAS
        #     pass per batch, exhaustive so recall is exact);
        #   above the caps (or no blob transport) -> random-hyperplane
        #     LSH banding on BOTH sides + skew-capped bucket join +
        #     exact cosine verify (probabilistic recall, tunable via
        #     hyperplane_bits/bands; tests/test_cross_cosine.py pins
        #     >= 0.99 at the reference θ).
        from semhash_spark.functions.vectors import hyperplane_bands
        from semhash_spark.operators.verify import (
            _feat_bytes,
            cosine_cross_threshold_edges,
            cosine_fused_fits,
        )

        # a prebuilt index blob means the fitted api already made the
        # fit-side decision (caps + transport): skip the byte measure
        fits_fused = index_blob_ref is not None or cosine_fused_fits(
            cfg, *_feat_bytes(index_feats, cfg.embedding_col), query_df.sparkSession
        )
        if fits_fused:
            # detached by the call when it writes its own blob; a fit's
            # blob is detached here
            hits = cosine_cross_threshold_edges(
                q_feats.select(id_col, cfg.embedding_col),
                index_feats.select(id_col, cfg.embedding_col),
                threshold, id_col, cfg.embedding_col,
                ref=index_blob_ref, max_k=cfg.cosine_max_k,
            )
            if index_blob_ref is not None:
                hits = detach(hits)
        else:
            def _hp_bands(frame):
                banded = frame.withColumn(
                    "hpb",
                    hyperplane_bands(
                        cfg.embedding_col, cfg.hyperplane_bits,
                        cfg.hyperplane_bands, cfg.hyperplane_seed,
                        cfg.embedding_dim,
                    ),
                )
                return explode_band_array(banded, "hpb", id_col)

            ib = index_bands if index_bands is not None else _hp_bands(index_feats)
            cands = candidate_pairs_cross(
                _hp_bands(q_feats), ib, id_col, broadcast_query,
                bucket_cap=cross_cap,
            )
    else:  # jaccard_exact: explicit brute-force correctness baseline
        cands = (
            q_feats.select(F.col(id_col).alias("query_id"))
            .crossJoin(index_feats.select(F.col(id_col).alias("index_id")))
        )

    if hits is None:
        # rehydrate: query features and index features are different tables
        if mode == "cosine":
            from semhash_spark.functions.vectors import cosine_similarity

            fa = q_feats.select(F.col(id_col).alias("query_id"), F.col(cfg.embedding_col).alias("_fa"))
            fb = index_feats.select(F.col(id_col).alias("index_id"), F.col(cfg.embedding_col).alias("_fb"))
            scored = (
                cands.join(fa, "query_id").join(fb, "index_id")
                .withColumn("score", cosine_similarity("_fa", "_fb"))
                .drop("_fa", "_fb")
            )
        else:
            from semhash_spark.operators.verify import jaccard_similarity

            fa = q_feats.select(F.col(id_col).alias("query_id"), F.col("shingles").alias("_fa"))
            fb = index_feats.select(F.col(id_col).alias("index_id"), F.col("shingles").alias("_fb"))
            scored = (
                cands.join(fa, "query_id").join(fb, "index_id")
                .withColumn("score", jaccard_similarity("_fa", "_fb"))
                .drop("_fa", "_fb")
            )
        hits = scored.where(F.col("score") >= threshold).persist()
        persisted.append(hits)
    return _cross_result(kept, exact_dups, hits, cfg, threshold, id_col, persisted)


def _cross_result(kept, exact_dups, hits, cfg, threshold, id_col, persisted):
    """Shared result assembly for the cross paths: best-match per
    filtered query, selected anti-join, filtered/pairs frames.
    ``exact_dups`` must carry ``exemplar_id``; an ``exact_key`` column
    is dropped if present (the blob path never builds one)."""
    best = hits.groupBy("query_id").agg(
        F.max_by(F.col("index_id"), F.struct(F.col("score"), -F.col("index_id"))).alias(
            "exemplar_id"
        ),
        F.max("score").alias("score"),
    )
    sem_filtered = (
        kept.join(best, kept[id_col] == best["query_id"], "inner")
        .drop("query_id", "exact_key")
        .withColumn("exact", F.lit(False))
    )
    selected = kept.join(hits.select("query_id").distinct(),
                         kept[id_col] == F.col("query_id"), "left_anti").drop("exact_key")

    exact_filtered = (
        exact_dups.drop("exact_key")
        .withColumn("score", F.lit(1.0)).withColumn("exact", F.lit(True))
    )
    filtered = exact_filtered.unionByName(sem_filtered)

    pairs = hits.select(
        F.col("query_id").alias("dup_id"),
        F.col("index_id").alias("other_id"),
        "score",
        F.lit(False).alias("exact"),
    ).unionByName(
        exact_dups.select(
            F.col(id_col).alias("dup_id"),
            F.col("exemplar_id").alias("other_id"),
            F.lit(1.0).alias("score"),
            F.lit(True).alias("exact"),
        )
    )

    return DedupResult(
        selected=selected,
        filtered=filtered,
        pairs=pairs,
        threshold=threshold,
        columns=tuple(cfg.columns),
        id_col=id_col,
        cross=True,
        _persisted=persisted,
    )


def incremental_deduplicate(
    new_df: DataFrame,
    selected_df: DataFrame,
    cfg: DedupConfig,
    mode: str = "minhash",
    threshold: float | None = None,
    index_feats: DataFrame | None = None,
    broadcast_query: bool = False,
    index_keys: DataFrame | None = None,
    index_bands: DataFrame | None = None,
    index_blob_ref: dict | None = None,
    index_bands_thinned: bool = False,
    index_cross_blobs: dict | None = None,
) -> DedupResult:
    """Dedup a NEW ingest batch against the pipeline's PRIOR
    ``selected`` output and then within itself — the production
    incremental pattern (daily partition lands, dedupe it against
    everything already kept, then collapse its internal duplicates).

    Two stages, matching the reference's train/test + self semantics:

    1. existential cross dedup: new rows matching anything already
       selected are filtered (exemplar = the stored row).
    2. self dedup of the cross survivors: duplicates WITHIN the new
       batch collapse to their own first-occurrence exemplars.

    Returns one ``DedupResult``: ``selected`` = rows genuinely new,
    ``filtered``/``pairs`` = the union of both stages (cross hits
    then intra-batch hits), each row tagged with an
    ``exemplar_source`` / ``other_source`` column (``'index'`` =
    stage 1, the exemplar/other id lives in the FITTED-corpus id
    space; ``'batch'`` = stage 2, the id lives in the new batch's) —
    without the tag a consumer cannot tell which corpus an id refers
    to when the two id spaces overlap (ADVICE r3).
    ``selected_df ∪ result.selected`` is the new cumulative corpus.
    At scale keep ``selected_df`` bucketed on the id
    (sources/bucketed.py) so the stage-1 joins co-locate.
    """
    cross = deduplicate(
        new_df, selected_df, cfg, mode, threshold,
        index_feats=index_feats, broadcast_query=broadcast_query,
        index_keys=index_keys, index_bands=index_bands,
        index_blob_ref=index_blob_ref,
        index_bands_thinned=index_bands_thinned,
        index_cross_blobs=index_cross_blobs,
    )
    survivors = cross.selected
    intra = self_deduplicate(survivors, cfg, mode, threshold)
    filtered_cols = intra.filtered.columns
    combined_filtered = (
        cross.filtered.select(*filtered_cols)
        .withColumn("exemplar_source", F.lit("index"))
        .unionByName(intra.filtered.withColumn("exemplar_source", F.lit("batch")))
    )
    combined_pairs = (
        cross.pairs.withColumn("other_source", F.lit("index"))
        .unionByName(intra.pairs.withColumn("other_source", F.lit("batch")))
    )
    return DedupResult(
        selected=intra.selected,
        filtered=combined_filtered,
        pairs=combined_pairs,
        threshold=cross.threshold,
        columns=tuple(cfg.columns),
        id_col=cfg.id_col,
        cross=True,
        _persisted=cross._persisted + intra._persisted,
    )
