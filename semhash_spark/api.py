"""SparkSemHash — the facade mirroring the reference's public API.

Reference surface (semhash/semhash.py):
  from_records       -> SparkSemHash.fit(df)
  from_embeddings    -> SparkSemHash.fit_embeddings(df, emb_col=...)
  deduplicate        -> .deduplicate(query_df)
  self_deduplicate   -> .self_deduplicate()
  filter_outliers / self_filter_outliers
  find_representative / self_find_representative

The "fitted index" is not an ANN structure but a pair of persisted
DataFrames: the exact stage of the table (its exemplars are a filter
of it) and the exemplars' feature columns. Like the reference's one
index per ``from_records``, every surface of a fit shares them:
``self_deduplicate`` reads both instead of recomputing the exact stage
and the features. In cosine mode a fit also measures its embedding
table once, writes it as one executor-side blob (cross dedup, the
threshold scan and the top-k kernel all read it) and, while the table
fits both the fused-scan and the broadcast top-k gates, scans it once
per threshold for both the self-dedup edges and every row's top-k
average (``rank.cosine_self_scan``), so ``self_deduplicate``,
``self_filter_outliers`` and ``self_find_representative`` share one
scan. The fit owns its blobs: every frame it hands out is detached
from them (``verify.detach``), and ``release()`` drops them. The
ranking memoization of the reference (semhash/semhash.py:41,
498-518) maps to persisting the self-ranking DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig
from semhash_spark.datamodels import DedupResult, FilterResultDF
from semhash_spark.operators import dedup as dedup_ops
from semhash_spark.operators import rank as rank_ops
from semhash_spark.operators.exact import self_exact_dedup


def _validate_records(df: DataFrame, cfg: DedupConfig) -> None:
    """Input validation mirroring reference ``prepare_records``
    (semhash/utils.py:127-153) and ``from_records`` error paths:
    empty input and missing declared columns fail fast with the
    reference's messages instead of a cryptic late AnalysisException."""
    missing = [c for c in (*cfg.columns, cfg.id_col) if c not in df.columns]
    if missing:
        raise ValueError(
            f"records are missing declared column(s) {missing}; available: "
            f"{df.columns} (Columns must be specified when passing tables.)"
        )
    if df.isEmpty():
        raise ValueError("records must not be empty")


def _validate_embeddings(df: DataFrame, emb_col: str, id_col: str) -> None:
    """Mirror reference ``from_embeddings`` validation
    (semhash/semhash.py:100-168): the embedding column must exist, be
    an array type, contain no NULLs (an embedding per record), and be
    rectangular (one consistent dim — the 2D-array check)."""
    if emb_col not in df.columns:
        raise ValueError(
            f"embedding column {emb_col!r} not found; available: {df.columns}"
        )
    dtype = dict(df.dtypes)[emb_col]
    if not dtype.startswith("array"):
        raise ValueError(
            f"embeddings must be a 2D array (array column), got {emb_col}: {dtype}"
        )
    row = df.agg(
        F.count("*").alias("n"),
        F.count(emb_col).alias("n_emb"),
        F.min(F.size(emb_col)).alias("dmin"),
        F.max(F.size(emb_col)).alias("dmax"),
    ).first()
    if row["n"] == 0:
        raise ValueError("records must not be empty")
    if row["n_emb"] != row["n"]:
        raise ValueError(
            f"Number of embeddings ({row['n_emb']}) must match number of "
            f"records ({row['n']}) — {row['n'] - row['n_emb']} NULL embeddings"
        )
    if row["dmin"] != row["dmax"]:
        raise ValueError(
            f"embeddings must be a 2D array: ragged dims [{row['dmin']}, "
            f"{row['dmax']}] in column {emb_col!r}"
        )


def records_from_strings(spark, texts, id_col: str = "record_id") -> DataFrame:
    """String-record ingestion mirroring the reference's
    ``prepare_records`` string path (semhash/utils.py:127-153): a
    sequence of plain strings becomes single-column ``{"text": s}``
    records, with ids assigned by list position so first-wins
    ordering matches the reference's list semantics.

    Raises the reference's own errors: empty input, and dict records
    without declared columns (semhash/utils.py:140-143).
    """
    texts = list(texts)
    if len(texts) == 0:
        raise ValueError("records must not be empty")
    if any(isinstance(t, dict) for t in texts):
        # checked over the WHOLE list, not just texts[0]: a mixed
        # list would otherwise silently ingest str(dict) reprs
        raise ValueError("Columns must be specified when passing dictionaries.")
    return spark.createDataFrame(
        [(i, str(t)) for i, t in enumerate(texts)],
        schema=f"{id_col} bigint, text string",
    )


class SparkSemHash:
    def __init__(self, cfg: DedupConfig | None = None, mode: str = "minhash") -> None:
        self.cfg = cfg or DedupConfig()
        self.mode = mode
        # reference was_string flag (semhash/utils.py:149): set by
        # from_strings; result string views are always available on
        # DedupResult regardless, this only records provenance
        self.was_string = False
        self._df: DataFrame | None = None
        # persisted self_exact_dedup of the fitted table (with the key);
        # _exemplars is its non-duplicate filter
        self._keyed: DataFrame | None = None
        self._exemplars: DataFrame | None = None
        self._feats: DataFrame | None = None
        self._ranking: DataFrame | None = None  # memoized self-ranking
        # fitted-side cross-dedup memos (built lazily on the first
        # deduplicate() call): the index key table and band table are
        # static per fit, so repeated query batches pay only
        # query-side work — the reference benchmark's dedup-only
        # split (benchmarks/README.md:43-61)
        self._idx_keys: DataFrame | None = None
        self._idx_bands: DataFrame | None = None
        self._idx_bands_thinned: bool = True
        # the embedding table's blob ref, written once per fit: the
        # cosine cross scan (repeated deduplicate() calls skip the blob
        # write — the reference's dedup-only benchmark split), the self
        # scan and the broadcast top-k all read it
        self._idx_blob_ref: dict | None = None
        # _feat_bytes of the embedding table, measured once per fit
        self._emb_size_memo: tuple[int, int] | None = None
        # cosine mode: detached rank.cosine_self_scan per threshold
        self._scans: dict[float, DataFrame] = {}
        # one finalizer per blob this fit wrote: release() runs them,
        # and an unreleased fit drops its blobs when it is collected
        self._blob_drops: list = []
        # minhash single-job cross-dedup blob refs (keys/bands/
        # shingles), built by prepare_index for large fitted sides
        self._idx_cross_blobs: dict | None = None
        # memoized exemplar-embedding frame for the rank surfaces in
        # minhash/simhash mode (VERDICT r3 #4: self_rank followed by
        # find_representative used to re-run the featurize UDF over
        # the corpus on every call)
        self._emb_feats: DataFrame | None = None

    # ------------------------------------------------------------ fit
    def fit(self, df: DataFrame) -> "SparkSemHash":
        """Exact-dedup + featurize exemplars (reference from_records,
        semhash/semhash.py:43-98). ``df`` must carry cfg.id_col."""
        cfg = self.cfg
        _validate_records(df, cfg)
        self._df = df
        self._keyed = self_exact_dedup(df, cfg.columns, cfg.id_col).persist()
        self._exemplars = self._keyed.where(~F.col("is_exact_dup"))
        # cache only (id, feature cols): every consumer (band memos,
        # cross blobs, verify rehydration, the embedding blob) selects
        # exactly these — the full-width persist duplicated the content
        # payload already held by the exemplar cache
        feat_cols = dedup_ops.mode_feature_cols(self.mode, cfg)
        self._feats = dedup_ops.add_features(self._exemplars, cfg, self.mode).select(
            cfg.id_col, *feat_cols
        ).persist()
        return self

    @classmethod
    def from_strings(
        cls, spark, texts, cfg: DedupConfig | None = None, mode: str = "minhash"
    ) -> "SparkSemHash":
        """Reference ``SemHash.from_records(records=list[str])``
        (semhash/semhash.py:43-98 via utils.prepare_records): columns
        are forced to ``("text",)`` exactly as the reference does,
        ids follow list position, and ``was_string`` is recorded so
        callers know result rows render back to plain strings via
        ``DedupResult.selected_strings()`` / ``filtered_strings()``
        (the map_deduplication_result_to_strings analogue,
        semhash/records.py:20-35)."""
        cfg = cfg or DedupConfig(columns=("text",))
        if tuple(cfg.columns) != ("text",):
            cfg = cfg.with_(columns=("text",))
        sh = cls(cfg, mode=mode)
        sh.was_string = True
        return sh.fit(records_from_strings(spark, texts, cfg.id_col))

    def fit_embeddings(self, df: DataFrame, emb_col: str = "embedding") -> "SparkSemHash":
        """Reference from_embeddings (semhash/semhash.py:100-168):
        precomputed vectors; keeps the FIRST (min record_id) row's
        embedding per exact group."""
        cfg = self.cfg.with_(embedding_col=emb_col)
        _validate_records(df, cfg)
        _validate_embeddings(df, emb_col, cfg.id_col)
        self.cfg = cfg
        self.mode = "cosine"
        self._df = df
        self._keyed = self_exact_dedup(df, cfg.columns, cfg.id_col).persist()
        self._exemplars = self._keyed.where(~F.col("is_exact_dup"))
        self._feats = self._exemplars.select(cfg.id_col, emb_col).persist()
        return self

    def _require_fit(self) -> None:
        if self._df is None:
            raise RuntimeError("call fit()/fit_embeddings() first")

    def release(self) -> None:
        """Unpersist every cache this fitted object owns (exact stage,
        features, memoized ranking, cross-dedup key/band tables), drop
        its self-scan and size memos, and remove its blobs (the
        embedding blob and the cross-dedup blobs). The object stays
        usable — frames and blobs are rebuilt on next use — and every
        frame it handed out still computes, since none reads a blob;
        call when done querying this fit (cache-lifecycle parity with
        DedupResult.release / FilterResultDF.release)."""
        for df in (
            self._keyed, self._feats, self._ranking,
            self._idx_keys, self._idx_bands, self._emb_feats,
        ):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
        self._ranking = None
        self._scans = {}
        self._emb_size_memo = None
        self._idx_keys = None
        self._idx_bands = None
        self._idx_bands_thinned = True
        for drop in self._blob_drops:
            drop()
        self._blob_drops = []
        self._idx_blob_ref = None
        self._idx_cross_blobs = None
        self._emb_feats = None

    def _own(self, ref: dict) -> dict:
        """Make ``ref`` this fit's blob: ``release()`` drops it."""
        import weakref

        from semhash_spark.operators.verify import drop_blob

        self._blob_drops.append(weakref.finalize(self, drop_blob, ref))
        return ref

    # ---------------------------------------------------------- dedup
    def self_deduplicate(
        self, threshold: float | None = None, checkpointer=None
    ) -> DedupResult:
        """Self dedup of the fitted table over the fit's caches: the
        exact stage and features are not recomputed, and in cosine mode
        the edges come from the fit's blob (and its shared scan)."""
        self._require_fit()
        cosine = self.mode == "cosine"
        fitted = dedup_ops.FittedFrames(
            self._keyed, self._feats,
            feat_size=self._emb_size() if cosine else None,
            cosine_edges=self._cosine_edges if cosine else None,
        )
        return dedup_ops.self_deduplicate(
            self._df, self.cfg, self.mode, threshold, checkpointer, fitted=fitted
        )

    # ------------------------------------------- fit-wide cosine memos
    def _emb_size(self) -> tuple[int, int]:
        """``_feat_bytes`` of the embedding table, once per fit."""
        if self._emb_size_memo is None:
            from semhash_spark.operators.verify import _feat_bytes

            self._emb_size_memo = _feat_bytes(
                self._embedding_feats(), self.cfg.embedding_col
            )
        return self._emb_size_memo

    def _emb_blob(self) -> dict:
        """The embedding table's executor-side blob, written once per fit."""
        if self._idx_blob_ref is None:
            from semhash_spark.operators.verify import write_blob

            cfg = self.cfg
            self._idx_blob_ref = self._own(write_blob(
                self._embedding_feats().select(cfg.id_col, cfg.embedding_col),
                cfg.id_col, cfg.embedding_col, "fitemb",
            ))
        return self._idx_blob_ref

    def _cosine_fused(self) -> bool:
        """Cosine mode: whether the fused scan plan serves this fit."""
        from semhash_spark.operators.verify import cosine_fused_fits

        return self.mode == "cosine" and cosine_fused_fits(
            self.cfg, *self._emb_size(), self._feats.sparkSession
        )

    def _rank_blob(self) -> dict | None:
        """The fit's blob when the top-k runs the broadcast plan."""
        strategy, _ = rank_ops._auto_strategy(
            self._embedding_feats(), self.cfg.embedding_col, self._emb_size()
        )
        return self._emb_blob() if strategy == "broadcast" else None

    def _shared_scan(self, threshold: float) -> DataFrame | None:
        """Cosine mode: the ``rank.cosine_self_scan`` of the fit at
        ``threshold``, run once per threshold and memoized detached
        (driver-held up to ``DRIVER_CC_CAP`` rows), or None unless the
        gates pick both the fused edges and the broadcast top-k."""
        if threshold not in self._scans:
            if not self._cosine_fused() or self._rank_blob() is None:
                return None
            from semhash_spark.operators.verify import detach

            cfg = self.cfg
            self._scans[threshold] = detach(rank_ops.cosine_self_scan(
                self._feats, self._emb_blob(), threshold, cfg.rank_k,
                cfg.cosine_max_k, cfg.id_col, cfg.embedding_col,
                n_rows=self._emb_size()[0],
            ))
        return self._scans[threshold]

    def _cosine_edges(self, threshold: float) -> DataFrame:
        """The fused self-dedup edges at ``threshold``: read from the
        shared scan, or scanned over the fit's blob alone when the
        top-k does not take the broadcast plan."""
        scan = self._shared_scan(threshold)
        if scan is not None:
            return rank_ops.scan_edges(scan)
        from semhash_spark.operators.verify import cosine_threshold_edges, detach

        cfg = self.cfg
        return detach(cosine_threshold_edges(
            self._feats, threshold, cfg.id_col, cfg.embedding_col,
            max_k=cfg.cosine_max_k, n_rows=self._emb_size()[0],
            ref=self._emb_blob(),
        ))

    def prepare_index(self) -> "SparkSemHash":
        """Materialize every fitted-side structure cross-dedup reads
        (features, exact-key table, band table) so subsequent
        ``deduplicate`` calls pay ONLY query-side work. This is the
        analogue of the reference's index-build phase (its benchmark
        reports build and dedup-only seconds separately,
        benchmarks/README.md:43-61); without it the first
        ``deduplicate`` call builds the memos lazily."""
        self._require_fit()
        self._build_cross_memos()
        n_feats = self._feats.count()
        self._idx_keys.count()
        if self._idx_bands is not None:
            self._idx_bands.count()
        # large minhash fitted sides additionally serialize the index
        # as executor-side blobs so deduplicate() is ONE map-only job
        # (operators/crossblob.py); below the gate the relational plan
        # wins, so small fits skip the build entirely
        from semhash_spark.operators.verify import blob_transport_available

        if (
            self.mode == "minhash"
            and self._idx_cross_blobs is None
            and self.cfg.cross_blob_min_rows is not None
            and n_feats >= self.cfg.cross_blob_min_rows
            and blob_transport_available(self._feats.sparkSession)
        ):
            from semhash_spark.operators.crossblob import build_cross_blobs

            self._idx_cross_blobs = {
                name: self._own(ref) for name, ref in build_cross_blobs(
                    self._feats, self._idx_keys, self._idx_bands, self.cfg.id_col,
                ).items()
            }
        return self

    def _build_cross_memos(self) -> None:
        if self._idx_keys is None:
            # (exact_key, exemplar_id) per distinct fitted key. Each
            # group's exemplar IS its min-id row, and those rows are
            # exactly the persisted exemplars — so the key table is a
            # narrow projection of a cache that already exists, not a
            # fourth sha pass + groupBy over the full fitted table
            # (index_key_table stays available for callers without a
            # fitted exemplar cache; equivalence is pinned by
            # tests/test_exact.py::test_index_key_table_reuse_matches_recompute).
            from semhash_spark.operators.exact import EXACT_KEY

            self._idx_keys = self._exemplars.select(
                F.col(EXACT_KEY),
                F.col(self.cfg.id_col).alias("exemplar_id"),
            ).persist()
        if self._cosine_fused():
            # the fused cross scan reads the fit's embedding blob, never
            # a band table (the decision is memoized with the fit's size)
            self._emb_blob()
            return
        if self._idx_bands is None and self.mode in ("minhash", "simhash", "cosine"):
            from semhash_spark.functions.hashing import simhash_bands
            from semhash_spark.operators.lsh import (
                band_table,
                explode_band_array,
                thin_index_bands,
            )

            # LARGE fitted sides store their band memo PRE-THINNED
            # (the oversized-bucket consistent-hash sampling is a pure
            # function of the fitted side): repeated deduplicate()
            # calls skip the full-index bucket-size aggregation that
            # dominated dedup-only time at the 4.3k-vs-1.8M shape.
            # SMALL sides (< cross_thin_min_rows, unless the blob path
            # will consume the bands) keep the memo unthinned and thin
            # per call instead — at e.g. a 99k index the extra
            # band-table aggregation pass costs more at fit time than
            # it ever saves per call. Identical results either way.
            # The oversized-bucket list is bounded at band_rows/cap
            # entries; below ~4M such entries (~100 MB worst-case
            # broadcast) hint it broadcast so the annotate join never
            # re-shuffles the full band table at memo-build time
            n_ex = self._feats.count()
            bands_n = self.cfg.bands if self.mode == "minhash" else (
                self.cfg.simhash_bands if self.mode == "simhash"
                else self.cfg.hyperplane_bands
            )
            bcast = (n_ex * bands_n) // max(self.cfg.bucket_cap, 1) <= 4_000_000
            blob_will_consume = (
                self.mode == "minhash"
                and self.cfg.cross_blob_min_rows is not None
                and n_ex >= self.cfg.cross_blob_min_rows
            )
            pre_thin = blob_will_consume or n_ex >= self.cfg.cross_thin_min_rows
            self._idx_bands_thinned = pre_thin

            def _thin(bt):
                if not pre_thin:
                    return bt
                return thin_index_bands(
                    bt, self.cfg.bucket_cap, self.cfg.id_col,
                    broadcast_big=bcast,
                )

            if self.mode == "minhash":
                self._idx_bands = _thin(band_table(
                    self._feats.where(F.size("shingles") > 0),
                    "sig", self.cfg.bands, self.cfg.id_col,
                    self.cfg.rows_per_band,
                )).persist()
            elif self.mode == "simhash":
                self._idx_bands = _thin(explode_band_array(
                    self._feats.where(F.size("shingles") > 0).withColumn(
                        "shb", simhash_bands("sim64", self.cfg.simhash_bands)
                    ),
                    "shb",
                    self.cfg.id_col,
                )).persist()
            else:
                # cosine above the fused gate: the hyperplane band table
                from semhash_spark.functions.vectors import hyperplane_bands

                cfg = self.cfg
                banded = self._feats.withColumn(
                    "hpb",
                    hyperplane_bands(
                        cfg.embedding_col, cfg.hyperplane_bits,
                        cfg.hyperplane_bands, cfg.hyperplane_seed,
                        cfg.embedding_dim,
                    ),
                )
                self._idx_bands = _thin(explode_band_array(
                    banded, "hpb", cfg.id_col
                )).persist()

    def deduplicate(
        self,
        query_df: DataFrame,
        threshold: float | None = None,
        broadcast_query: bool = False,
    ) -> DedupResult:
        self._require_fit()
        self._build_cross_memos()
        return dedup_ops.deduplicate(
            query_df,
            self._df,
            self.cfg,
            self.mode,
            threshold,
            index_feats=self._feats,
            broadcast_query=broadcast_query,
            index_keys=self._idx_keys,
            index_bands=self._idx_bands,
            index_blob_ref=self._idx_blob_ref if self._cosine_fused() else None,
            index_bands_thinned=self._idx_bands_thinned,
            index_cross_blobs=self._idx_cross_blobs,
        )

    def incremental(
        self,
        new_df: DataFrame,
        threshold: float | None = None,
        broadcast_query: bool = False,
    ) -> DedupResult:
        """Daily-ingest dedup against THIS fitted corpus: existential
        cross dedup of ``new_df`` vs the fitted rows (reusing the
        cached key/band memos), then self dedup within the survivors.
        ``result.selected`` are the genuinely-new rows to append to
        the stored corpus (operators.dedup.incremental_deduplicate)."""
        self._require_fit()
        self._build_cross_memos()
        return dedup_ops.incremental_deduplicate(
            new_df,
            self._df,
            self.cfg,
            self.mode,
            threshold,
            index_feats=self._feats,
            broadcast_query=broadcast_query,
            index_keys=self._idx_keys,
            index_bands=self._idx_bands,
            index_blob_ref=self._idx_blob_ref if self._cosine_fused() else None,
            index_bands_thinned=self._idx_bands_thinned,
            index_cross_blobs=self._idx_cross_blobs,
        )

    # ----------------------------------------------------- rank-based
    def _embedding_feats(self) -> DataFrame:
        cfg = self.cfg
        if self.mode == "cosine":
            return self._feats
        if self._emb_feats is None:
            from semhash_spark.functions.encoder import featurize

            self._emb_feats = featurize(
                self._exemplars, cfg.columns, cfg.embedding_dim,
                cfg.embedding_col, cfg.embedding_ngram,
            ).select(cfg.id_col, cfg.embedding_col).persist()
        return self._emb_feats

    def _query_embedding_feats(self, query_df: DataFrame) -> DataFrame:
        cfg = self.cfg
        if cfg.embedding_col in query_df.columns:
            return query_df.select(cfg.id_col, cfg.embedding_col)
        from semhash_spark.functions.encoder import featurize

        return featurize(
            query_df, cfg.columns, cfg.embedding_dim, cfg.embedding_col,
            cfg.embedding_ngram,
        ).select(cfg.id_col, cfg.embedding_col)

    def self_rank(self) -> DataFrame:
        """Memoized self-ranking (reference semhash.py:490-519)."""
        self._require_fit()
        if self._ranking is None:
            # any shared scan of the fit carries the averages (they do
            # not depend on its threshold); else scan at cfg.threshold
            scan = next(iter(self._scans.values()), None)
            if scan is None and self.mode == "cosine":
                scan = self._shared_scan(self.cfg.threshold)
            if scan is not None:
                self._ranking = rank_ops.scan_ranking(scan).persist()
            else:
                self._ranking = self._ranked(self._embedding_feats(), True).persist()
        return self._ranking

    def rank(self, query_df: DataFrame) -> DataFrame:
        self._require_fit()
        return self._ranked(self._query_embedding_feats(query_df), False)

    def _ranked(self, q: DataFrame, exclude_self: bool) -> DataFrame:
        """``rank_by_avg_similarity`` of ``q`` against the fit, detached
        when it reads the fit's blob."""
        from semhash_spark.operators.verify import detach

        ref = self._rank_blob()
        ranking = rank_ops.rank_by_avg_similarity(
            q, self._embedding_feats(), self.cfg.rank_k, exclude_self=exclude_self,
            id_col=self.cfg.id_col, emb_col=self.cfg.embedding_col,
            ref=ref, index_size=self._emb_size(),
        )
        return detach(ranking) if ref is not None else ranking

    def self_filter_outliers(self, outlier_percentage: float | None = None) -> FilterResultDF:
        pct = self.cfg.outlier_percentage if outlier_percentage is None else outlier_percentage
        persisted: list = []
        inl, outl = rank_ops.filter_outliers(self.self_rank(), pct, persisted)
        return FilterResultDF(selected=inl, filtered=outl, _persisted=persisted)

    def filter_outliers(
        self, query_df: DataFrame, outlier_percentage: float | None = None
    ) -> FilterResultDF:
        pct = self.cfg.outlier_percentage if outlier_percentage is None else outlier_percentage
        persisted: list = []
        inl, outl = rank_ops.filter_outliers(self.rank(query_df), pct, persisted)
        return FilterResultDF(selected=inl, filtered=outl, _persisted=persisted)

    def self_find_representative(
        self,
        selection_size: int | None = None,
        candidate_limit: int | str = "auto",
        diversity: float | None = None,
        strategy: str | None = None,
    ) -> tuple[list[int], list[float], list[int]]:
        k = self.cfg.selection_size if selection_size is None else selection_size
        d = self.cfg.diversity if diversity is None else diversity
        s = self.cfg.diversify_strategy if strategy is None else strategy
        return rank_ops.find_representative(
            self.self_rank(), self._embedding_feats(), k, candidate_limit, d,
            id_col=self.cfg.id_col, emb_col=self.cfg.embedding_col, strategy=s,
        )

    def find_representative(
        self,
        query_df: DataFrame,
        selection_size: int | None = None,
        candidate_limit: int | str = "auto",
        diversity: float | None = None,
        strategy: str | None = None,
    ) -> tuple[list[int], list[float], list[int]]:
        k = self.cfg.selection_size if selection_size is None else selection_size
        d = self.cfg.diversity if diversity is None else diversity
        s = self.cfg.diversify_strategy if strategy is None else strategy
        return rank_ops.find_representative(
            self.rank(query_df), self._query_embedding_feats(query_df), k,
            candidate_limit, d, id_col=self.cfg.id_col,
            emb_col=self.cfg.embedding_col, strategy=s,
        )
