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
     edges (driver-held) ──numpy CC (``components.labels``)──►
       dup nodes (id, exemplar_id, best score) + their pair rows
     dup nodes, pair rows ──one broadcast join each against the
       exact stage──► selected / filtered / pairs

Content and signatures never enter the band shuffle (ids+hashes
only), and no candidate pair relation exists: the generator emits
only verified edges, collected before the blob is removed. The
edges reach the driver once: the clusters, each dup node's best
score and the semantic pairs are computed from that table, and each
result frame is one join of the exact stage against a small
driver-held frame (``_assemble``). Above ``DRIVER_CC_CAP`` edges
(``cfg.driver_cc_cap``) the same two frames come from the distributed
large-star/small-star CC (O(log n) rounds) and a ``groupBy`` of the
mirrored edges instead.
Without blob transport, or with a blob above
VERIFY_BROADCAST_MAX_BYTES, the edges come from candidate pairs
(distinct) joined with the shingle arrays instead (``_edges_minhash``).

Plan shape (self mode, cosine, below the fused caps):

  exemplars ──encoder (Arrow UDF)──► feats (id, embedding)
     feats ──distributed parquet write──► blob (one per fit)
     feats ──mapInArrow: f32 tiled gemm against the mmap'd blob,
       f64 rescore of the survivors──► edges >= θ (a < b, max_k cap)
     edges (driver-held) ──numpy CC──► dup nodes + pair rows
       ──one broadcast join each──► selected / filtered / pairs

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

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark import blob
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
from semhash_spark.functions.vectors import cosine_similarity, hyperplane_bands
from semhash_spark.operators.components import labels, label_frame, star_components
from semhash_spark.operators.exact import (
    EXACT_KEY,
    cross_exact_split,
    index_key_table,
    self_exact_dedup,
)
from semhash_spark.operators.lsh import (
    band_table,
    candidate_pairs_cross,
    candidate_pairs_self,
    explode_band_array,
    thin_index_bands,
    verified_edges_self,
)
from semhash_spark.operators.verify import (
    jaccard_similarity,
    verify_cosine,
    verify_jaccard,
)

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
    cosine    -> embedding             (Arrow UDF hashing encoder)
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
            "shingles", shingle_hashes(text_col, cfg.shingle_k)
        )
        if mode == "minhash":
            if cfg.minhash_family == "oph":
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


def mode_bands(feats: DataFrame, cfg: DedupConfig, mode: str) -> DataFrame:
    """The (id, band_idx, band_hash) LSH band table of a mode's features,
    for the self and the cross path alike: minhash signature row groups,
    simhash bands, or random-hyperplane (Charikar SRP) bands of the
    embedding. Tokenless text rows (empty shingle set -> all-sentinel
    sketch) can never verify >= threshold, but their IDENTICAL sketches
    would co-bucket every such row into one mega band bucket at scale,
    so they are pruned from banding (and from the blob) entirely."""
    id_col = cfg.id_col
    if mode == "minhash":
        return band_table(feats.where(F.size("shingles") > 0), "sig", cfg.bands,
                          id_col, cfg.rows_per_band)
    if mode == "simhash":
        banded = feats.where(F.size("shingles") > 0).withColumn(
            "_bands", simhash_bands("sim64", cfg.simhash_bands))
    elif mode == "cosine":
        banded = feats.withColumn("_bands", hyperplane_bands(
            cfg.embedding_col, cfg.hyperplane_bits, cfg.hyperplane_bands,
            dim=cfg.embedding_dim))
    else:
        raise ValueError(f"mode {mode!r} has no band table")
    return explode_band_array(banded, "_bands", id_col)


def _edges_minhash(feats: DataFrame, cfg: DedupConfig, id_col: str,
                   threshold: float) -> DataFrame:
    """Minhash edges (a, b, score >= threshold): LSH candidates verified
    inside the bucket generator against the (id, shingles) blob,
    collected before the blob is removed (``lsh.verified_edges_self``).
    Without blob transport, or with a blob above
    VERIFY_BROADCAST_MAX_BYTES, distinct candidates -> ``verify_jaccard``
    join instead."""
    edges = verified_edges_self(mode_bands(feats, cfg, "minhash"),
                                feats.where(F.size("shingles") > 0), cfg.bucket_cap,
                                id_col, "jaccard", threshold, "lshverify")
    if edges is None:
        cands = _candidates_self(feats, cfg, "minhash", id_col)
        edges = verify_jaccard(cands, feats, "shingles", id_col, threshold,
                               strategy="join").select("a", "b", "score")
    return edges


def _candidates_self(feats: DataFrame, cfg: DedupConfig, mode: str, id_col: str,
                     persisted: list | None = None) -> DataFrame:
    if mode == "jaccard_exact":
        # brute-force all-pairs: correctness baseline / small inputs.
        ids = feats.select(F.col(id_col))
        a = ids.select(F.col(id_col).alias("a"))
        b = ids.select(F.col(id_col).alias("b"))
        return a.crossJoin(b).where(F.col("a") < F.col("b"))
    # cosine reaches here only above the fused caps (or without blob
    # transport): self_deduplicate fuses candidates+verify into one
    # broadcast matmul below them
    pairs = candidate_pairs_self(mode_bands(feats, cfg, mode), cfg.bucket_cap,
                                 id_col, persisted)
    if mode == "simhash":
        sims = feats.select(id_col, "sim64")
        pairs = (
            pairs.join(sims.select(F.col(id_col).alias("a"), F.col("sim64").alias("_sa")), "a")
            .join(sims.select(F.col(id_col).alias("b"), F.col("sim64").alias("_sb")), "b")
            .where(hamming64("_sa", "_sb") <= cfg.simhash_max_hamming)
            .select("a", "b")
        )
    return pairs


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


# Fitted sides at or above this many exemplars store their band memo
# PRE-thinned: the oversized-bucket aggregation runs once per fit, not
# in every deduplicate call, where it dominated dedup-only time at the
# 4.3k-queries-vs-1.8M reference shape (24.9 s -> 2.7 s with the blob
# path). Below it the memo stays unthinned and candidate_pairs_cross
# thins per call: at a 99k index the extra band-table pass cost the fit
# +2.3 s while saving one cross call ~0.3 s (OPTIMIZATION_r06 §4).
# Identical results either way (same consistent-hash filter).
CROSS_THIN_MIN_ROWS = 300_000
# Fitted minhash sides at or above this many exemplars are also packed
# as executor-side blobs at prepare_index() (operators/crossblob.py),
# and deduplicate() answers a query batch in ONE map-only job instead
# of the relational plan, whose per-call cost is full scans of the
# fitted caches. Below it the relational plan is cheaper than the blob
# build (OPTIMIZATION_r06 §4). The blobs read pre-thinned bands, so
# this gate also forces thinning.
CROSS_BLOB_MIN_ROWS = 300_000


@dataclass(frozen=True)
class FittedIndex:
    """The index side of cross-dedup — what ``deduplicate`` reads of the
    fitted table, built by ``build_index``. A fitted ``SparkSemHash``
    builds it once and owns it; an unfitted ``deduplicate`` builds one
    per call.

    * ``feats``: the index exemplars' ``(id, *mode_feature_cols)``;
    * ``keys``: ``(exact_key, exemplar_id)`` per distinct index key;
    * ``bands``: the index ``mode_bands`` of minhash, simhash and cosine
      above the fused gate; None when the fused cosine scan or the
      brute-force baseline serves the index;
    * ``bands_thinned``: ``bands`` is already thinned to the bucket cap
      (``lsh.thin_index_bands``), so a call skips that aggregation;
    * ``emb_blob``: cosine, the fit's embedding blob when the fused scan
      serves the index (None: the call writes and drops its own);
    * ``cross_blobs``: minhash, the fit's single-job blobs
      (``crossblob.build_cross_blobs``), set by ``prepare_index``.
    """

    feats: DataFrame
    keys: DataFrame
    bands: DataFrame | None = None
    bands_thinned: bool = False
    emb_blob: dict | None = None
    cross_blobs: dict | None = None


def build_index(
    index_df: DataFrame,
    cfg: DedupConfig,
    mode: str,
    fit: FittedFrames | None = None,
    emb_blob: Callable[[], dict] | None = None,
) -> FittedIndex:
    """The ``FittedIndex`` of ``index_df``.

    With ``fit`` (a fitted ``SparkSemHash``'s caches of ``index_df``)
    it is the fit's memo: the key table is a projection of the fit's
    exact stage, key and band tables are persisted for the fit to own,
    bands of fits at or above ``CROSS_THIN_MIN_ROWS`` exemplars (or
    ``CROSS_BLOB_MIN_ROWS`` in minhash) are stored pre-thinned, and the
    fused cosine scan reads the fit's blob, ``emb_blob()``.

    Without ``fit`` (one ``deduplicate`` call) only the exemplar
    features are persisted, for the caller to release; the key and
    band tables stay lazy, and the call thins the bands.
    """
    id_col = cfg.id_col
    if fit is None:
        keys = index_key_table(index_df, cfg.columns, id_col)
        idx_ex = self_exact_dedup(index_df, cfg.columns, id_col, with_key=False)
        feats = add_features(idx_ex.where(~F.col("is_exact_dup")), cfg, mode).select(
            id_col, *mode_feature_cols(mode, cfg)).persist()
    else:
        # each exact group's exemplar IS its min-id row, and those rows
        # are exactly the fit's exemplars — so the key table is a
        # narrow projection of a cache that already exists, not another
        # sha pass + groupBy over the full fitted table (equivalence
        # pinned by tests/test_exact.py)
        keys = fit.keyed.where(~F.col("is_exact_dup")).select(
            F.col(EXACT_KEY), F.col(id_col).alias("exemplar_id")).persist()
        feats = fit.feats
    if mode == "jaccard_exact":
        return FittedIndex(feats, keys)
    if mode == "cosine":
        from semhash_spark.operators.verify import cosine_fused_fits

        size = fit.feat_size if fit and fit.feat_size else blob._feat_bytes(
            feats, cfg.embedding_col)
        if cosine_fused_fits(cfg, *size, feats.sparkSession):
            return FittedIndex(feats, keys, emb_blob=emb_blob() if emb_blob else None)
    bands = mode_bands(feats, cfg, mode)
    if fit is None:
        return FittedIndex(feats, keys, bands)
    n_ex = feats.count()
    thinned = n_ex >= CROSS_THIN_MIN_ROWS or (
        mode == "minhash" and n_ex >= CROSS_BLOB_MIN_ROWS)
    if thinned:
        # the oversized-bucket list is bounded at band_rows/cap entries;
        # below ~4M such entries (~100 MB worst-case broadcast) hint it
        # broadcast so the annotate join never re-shuffles the full
        # band table at memo-build time
        n_bands = {"minhash": cfg.bands, "simhash": cfg.simhash_bands}.get(
            mode, cfg.hyperplane_bands)
        bands = thin_index_bands(
            bands, cfg.bucket_cap, id_col,
            broadcast_big=n_ex * n_bands // max(cfg.bucket_cap, 1) <= 4_000_000,
        )
    return FittedIndex(feats, keys, bands.persist(), thinned)


def self_deduplicate(
    df: DataFrame,
    cfg: DedupConfig,
    mode: str = "minhash",
    threshold: float | None = None,
    checkpointer=None,
    extra_edges: DataFrame | None = None,
    fitted: FittedFrames | None = None,
) -> DedupResult:
    """Dedup within one table. ``df`` must carry ``cfg.id_col``.

    :param extra_edges: optional additional duplicate edges (a, b,
        score) to union in before clustering — the containment
        (substring) stage feeds this.
    :param fitted: the caches a fitted ``SparkSemHash`` already holds
        for ``df`` (see ``FittedFrames``); they are read instead of
        recomputed, and left out of the result's ``_persisted``.
    """
    threshold = cfg.threshold if threshold is None else threshold
    id_col = cfg.id_col
    persisted: list = []

    def ck(name, build):
        return checkpointer.stage(name, build) if checkpointer else build()

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

    from semhash_spark.operators.verify import cosine_fused_fits, cosine_threshold_edges

    if mode == "cosine":
        n_feats, feat_bytes = (
            fitted.feat_size if fitted and fitted.feat_size
            else blob._feat_bytes(feats, cfg.embedding_col)
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
                max_k=cfg.cosine_max_k, n_rows=n_feats,
            ),
        )
    elif mode == "minhash":
        edges = ck(f"edges_{mode}", lambda: _edges_minhash(feats, cfg, id_col, threshold))
    else:
        cands = ck(
            f"candidates_{mode}",
            lambda: _candidates_self(feats, cfg, mode, id_col, persisted),
        )
        edges = ck(
            f"edges_{mode}",
            lambda: _verify(cands, feats, cfg, mode, id_col, threshold).select(
                "a", "b", "score"
            ),
        )
    from semhash_spark.operators.components import DRIVER_CC_CAP

    cc_cap = cfg.driver_cc_cap if cfg.driver_cc_cap is not None else DRIVER_CC_CAP
    table, edges = _edge_table(edges, extra_edges, cc_cap, cache=checkpointer is None)
    spark = keyed.sparkSession
    if table is not None:
        # driver path: the edges are on the driver already, so the
        # clusters, best scores and pair rows are numpy, shipped as two
        # small frames; nothing is persisted
        nodes, lab, dups, dup_pairs = _dup_graph_local(table, id_col)
        if checkpointer:
            ck(f"clusters_{mode}", lambda: label_frame(spark, nodes, lab, id_col))
        dups = spark.createDataFrame(dups)
        dup_pairs = spark.createDataFrame(dup_pairs)
    else:
        if checkpointer is None:
            edges = edges.persist()
            persisted.append(edges)
        cc = ck(
            f"clusters_{mode}",
            lambda: star_components(edges.select(
                F.col("a").cast("long").alias("src"), F.col("b").cast("long").alias("dst"),
            ).where(F.col("src") != F.col("dst")), id_col),
        )
        if checkpointer is None:
            # narrow (id, cluster_id) cache — one row per dup-graph node —
            # so the star path's union/distinct never re-runs per action
            cc = cc.persist()
            persisted.append(cc)
        dups, dup_pairs = _dup_graph_star(edges, cc, id_col)
    sel, filtered, pairs = _assemble(exemplars, exact_dups, dups, dup_pairs, id_col)

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


def _edge_table(edges: DataFrame, extra_edges: DataFrame | None, cap: int,
                cache: bool) -> tuple["pa.Table | None", DataFrame]:
    """The (a, b, score) edges, with ``extra_edges`` unioned in as
    distinct rows: (their driver table, or None above ``cap`` rows;
    their frame). Edges the driver holds already (``blob.held``) are
    read back without a job; others are collected by one
    ``limit(cap + 1)`` probe, over a cache of the frame when ``cache``
    (kept only when the probe overflows, for the star path to reuse)."""
    frames = [edges] + ([extra_edges] if extra_edges is not None else [])
    tables = [blob.held(f) for f in frames]
    frame = edges if extra_edges is None else edges.unionByName(
        extra_edges.select("a", "b", "score")).distinct()
    if any(t is None for t in tables):
        frame = frame.persist() if cache else frame
        table = frame.select("a", "b", "score").limit(cap + 1).toArrow()
        if cache and table.num_rows <= cap:
            frame.unpersist()
    elif extra_edges is None:
        table = tables[0]
    else:
        # the distinct (a, b, score) rows in first-occurrence order
        # (an unthreaded group_by keeps its groups in that order)
        table = pa.concat_tables([t.select(["a", "b", "score"]) for t in tables]).group_by(
            ["a", "b", "score"], use_threads=False).aggregate([])
    return (table if table.num_rows <= cap else None), frame


def _dup_graph_local(table: "pa.Table", id_col: str):
    """The dup graph of an (a, b, score) edge table, in numpy: the
    ``labels`` (nodes, cluster ids) of its non-loop edges, then as
    Arrow tables the ``_assemble`` inputs ``dups`` (id, exemplar_id =
    cluster label, score = max incident score, over loops too) of the
    nodes whose label is not their own id, and ``dup_pairs`` (dup_id,
    other_id, score): each edge once from every such endpoint, as the
    mirrored edge list semi-joined to those nodes gives them."""
    a = table["a"].to_numpy().astype(np.int64)
    b = table["b"].to_numpy().astype(np.int64)
    s = table["score"].to_numpy().astype(np.float64)
    loop = a == b
    nodes, lab = labels(a[~loop], b[~loop])
    moved = lab != nodes
    best = np.full(len(nodes), -np.inf)
    from_dup = []
    for end in (a, b):
        pos = np.searchsorted(nodes, end)
        hit = pos < len(nodes)
        hit[hit] = nodes[pos[hit]] == end[hit]
        np.maximum.at(best, pos[hit], s[hit])
        is_dup = np.zeros(len(end), bool)
        is_dup[hit] = moved[pos[hit]]
        from_dup.append(is_dup)
    da, db = from_dup
    dups = pa.table({id_col: nodes[moved], "exemplar_id": lab[moved], "score": best[moved]})
    dup_pairs = pa.table({
        "dup_id": np.concatenate([a[da], b[db]]),
        "other_id": np.concatenate([b[da], a[db]]),
        "score": np.concatenate([s[da], s[db]]),
    })
    return nodes, lab, dups, dup_pairs


def _dup_graph_star(edges: DataFrame, cc: DataFrame, id_col: str):
    """The ``_assemble`` inputs of ``_dup_graph_local``, distributed: from
    the star path's clusters ``cc`` and the mirrored edge list."""
    sym = edges.select(F.col("a").alias(id_col), F.col("b").alias("nbr"), "score").union(
        edges.select(F.col("b").alias(id_col), F.col("a").alias("nbr"), "score")
    )
    best = sym.groupBy(id_col).agg(F.max("score").alias("best_score"))
    dups = (
        cc.where(F.col("cluster_id") != F.col(id_col))
        .join(best, id_col, "left")
        .select(id_col, F.col("cluster_id").alias("exemplar_id"),
                F.coalesce("best_score", F.lit(1.0)).alias("score"))
    )
    dup_pairs = sym.join(dups.select(id_col), id_col, "left_semi").select(
        F.col(id_col).alias("dup_id"), F.col("nbr").alias("other_id"), "score")
    return dups, dup_pairs


def _assemble(exemplars: DataFrame, exact_dups: DataFrame, dups: DataFrame,
              dup_pairs: DataFrame, id_col: str):
    """(selected, filtered, pairs) of a self-dedup. An exemplar is a
    semantic duplicate iff it is a ``dups`` node: a dup-graph node whose
    cluster label is not its own id. ``dups`` and ``dup_pairs`` may
    hold exact-duplicate rows (``extra_edges`` are computed over the
    raw table), so the semantic rows come only from joins against the
    exemplars: one join per frame, broadcast when the dup graph is a
    small driver-held frame."""
    drop = ("exemplar_id", "is_exact_dup", "exact_key")
    sel = exemplars.join(dups.select(id_col), id_col, "left_anti").drop(*drop)
    sem_filtered = exemplars.drop(*drop).join(dups, id_col).withColumn(
        "exact", F.lit(False))
    exact_filtered = (
        exact_dups.drop("is_exact_dup", "exact_key")
        .withColumn("score", F.lit(1.0))
        .withColumn("exact", F.lit(True))
    )
    filtered = exact_filtered.unionByName(sem_filtered)
    # an inner join on the unique exemplar ids is the semi-join that
    # keeps the dup graph's rows on the build side
    sem_pairs = dup_pairs.join(
        exemplars.select(F.col(id_col).alias("dup_id")), "dup_id"
    ).select("dup_id", "other_id", "score", F.lit(False).alias("exact"))
    exact_pairs = exact_dups.select(
        F.col(id_col).alias("dup_id"),
        F.col("exemplar_id").alias("other_id"),
        F.lit(1.0).alias("score"),
        F.lit(True).alias("exact"),
    )
    return sel, filtered, exact_pairs.unionByName(sem_pairs)


def deduplicate(
    query_df: DataFrame,
    index_df: DataFrame,
    cfg: DedupConfig,
    mode: str = "minhash",
    threshold: float | None = None,
    fitted: FittedIndex | None = None,
    broadcast_query: bool = False,
) -> DedupResult:
    """Cross-dataset dedup of ``query_df`` against fitted ``index_df``.

    Existential semantics (reference semhash.py:209-221): a query row
    with ANY >=threshold neighbor in the index is filtered; no
    clustering. ``exemplar_id`` = best-matching index row (max score,
    ties to min id).

    ``fitted``: the index side of ``index_df`` (``build_index``) that a
    fitted ``SparkSemHash`` built once — the fitted side of a
    repeated-query workload is static, so each call pays only
    query-side work (the reference benchmark's dedup-only split,
    benchmarks/README.md:43-61, where a 4.3k-query batch scores against
    1.8M fitted in under a second). Without it the call builds its own
    and the result releases it.
    """
    threshold = cfg.threshold if threshold is None else threshold
    id_col = cfg.id_col
    persisted: list = []
    if fitted is None:
        fitted = build_index(index_df, cfg, mode)
        persisted.append(fitted.feats)

    if fitted.cross_blobs is not None:
        # single-job blob path (reference-benchmark shape): exact +
        # band-probe + verify fused into one map-only pass over the
        # query side against the fitted index's mmap blobs — no
        # index-side scan per call (operators/crossblob.py). The blobs
        # are the fit's: the matches are detached, so no result frame
        # reads them
        from semhash_spark.operators.crossblob import cross_match_blob

        out = blob.detach(cross_match_blob(query_df, cfg, fitted.cross_blobs, threshold, id_col))
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
        query_df, index_df, cfg.columns, id_col, index_keys=fitted.keys
    )
    kept = kept.persist()
    persisted.append(kept)
    q_feats = add_features(kept, cfg, mode).persist()
    persisted.append(q_feats)

    if fitted.bands is not None:
        # minhash, simhash, and cosine above the fused gate (random-
        # hyperplane banding on BOTH sides: probabilistic recall, tunable
        # via hyperplane_bits/bands; tests/test_cross_cosine.py pins
        # >= 0.99 at the reference θ). A pre-thinned index band table
        # skips the per-call full-index bucket-size aggregation
        cands = candidate_pairs_cross(
            mode_bands(q_feats, cfg, mode), fitted.bands, id_col, broadcast_query,
            bucket_cap=None if fitted.bands_thinned else cfg.bucket_cap,
        )
    elif mode == "cosine":
        # Never a cartesian (VERDICT r3 #1): the index fits the blob
        # caps, so the FUSED matmul runs — index blob + streamed query
        # batches (the reference benchmark shape, 4.3k queries vs 1.8M
        # fitted — one |Q_batch| x |I| BLAS pass per batch, exhaustive
        # so recall is exact). Detached by the call when it writes its
        # own blob; a fit's blob is detached here
        from semhash_spark.operators.verify import cosine_cross_threshold_edges

        hits = cosine_cross_threshold_edges(
            q_feats.select(id_col, cfg.embedding_col),
            fitted.feats.select(id_col, cfg.embedding_col),
            threshold, id_col, cfg.embedding_col,
            ref=fitted.emb_blob, max_k=cfg.cosine_max_k,
        )
        if fitted.emb_blob is not None:
            hits = blob.detach(hits)
        return _cross_result(kept, exact_dups, hits, cfg, threshold, id_col, persisted)
    else:  # jaccard_exact: explicit brute-force correctness baseline
        cands = (
            q_feats.select(F.col(id_col).alias("query_id"))
            .crossJoin(fitted.feats.select(F.col(id_col).alias("index_id")))
        )

    # rehydrate: query features and index features are different tables
    feat_col, similarity = (
        (cfg.embedding_col, cosine_similarity) if mode == "cosine"
        else ("shingles", jaccard_similarity)
    )
    fa = q_feats.select(F.col(id_col).alias("query_id"), F.col(feat_col).alias("_fa"))
    fb = fitted.feats.select(F.col(id_col).alias("index_id"), F.col(feat_col).alias("_fb"))
    scored = (
        cands.join(fa, "query_id").join(fb, "index_id")
        .withColumn("score", similarity("_fa", "_fb"))
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
    selected = kept.join(best.select("query_id"), kept[id_col] == F.col("query_id"),
                         "left_anti").drop("exact_key")

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
    fitted: FittedIndex | None = None,
    broadcast_query: bool = False,
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
    cross = deduplicate(new_df, selected_df, cfg, mode, threshold, fitted,
                        broadcast_query)
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
