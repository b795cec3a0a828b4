"""Pipeline configuration.

Mirrors the knobs of the reference library (MinishLab/semhash):
``columns`` (semhash/semhash.py:28), ``threshold=0.9`` default
(semhash/semhash.py:173), ``outlier_percentage=0.1``
(semhash/semhash.py:384), ``selection_size=10`` / ``diversity=0.5``
(semhash/semhash.py:331-333) — plus the scale-out knobs the reference
does not need (shingling, MinHash/LSH banding, skew caps) because its
in-memory ANN index plays that role.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


@dataclass(frozen=True)
class DedupConfig:
    """Configuration for the distributed dedup pipeline."""

    # --- record semantics (reference: semhash/semhash.py:28,39) ---
    columns: tuple[str, ...] = ("text",)
    id_col: str = "record_id"

    # --- similarity threshold (reference default 0.9, semhash.py:173) ---
    threshold: float = 0.9

    # --- shingling (scale path; no reference counterpart) ---
    shingle_mode: str = "word"  # "word" | "char"
    shingle_k: int = 3

    # --- MinHash / LSH banding ---
    num_perm: int = 128
    bands: int = 32  # rows per band = num_perm // bands
    # signature family: "kperm" (classic Broder, num_perm passes) or
    # "oph" (one-permutation hashing + densification, ONE pass —
    # ~10-30x less sketch compute; the scale path when featurize
    # dominates). Downstream banding/verify is family-agnostic.
    minhash_family: str = "kperm"

    # --- SimHash ---
    simhash_bits: int = 64
    simhash_bands: int = 4  # band count for hamming-candidate generation
    simhash_max_hamming: int = 3

    # --- skew handling ---
    # buckets larger than this emit star edges (member -> bucket min-id)
    # instead of all O(m^2) pairs; see operators/lsh.py. 200 caps the
    # pair flood from common-boilerplate bucket fragments at ~100
    # pairs/member while true near-dup pairs still co-bucket in their
    # content-driven bands (recall asserted against planted truth in
    # tests/test_dedup.py).
    bucket_cap: int = 200

    # --- embeddings ---
    embedding_dim: int = 64
    embedding_col: str = "embedding"
    # token n-gram order for the hashing encoder (1 = bag of words).
    # n>=2 decorrelates documents that share a token DISTRIBUTION but
    # not token ORDER (e.g. code files over a small keyword vocab):
    # unigram embeddings of such corpora are dominated by the shared
    # frequency profile (independent-pair cosine ~0.6 on the bench
    # corpus) while bigrams push independents near 0 — the regime a
    # real sentence embedder exhibits on real text, and the one
    # hyperplane LSH needs to bucket efficiently.
    embedding_ngram: int = 1
    # cosine self-dedup under this many exemplars fuses candidates +
    # verify into one broadcast matmul; above it, random-hyperplane
    # LSH + exact verify (None -> operators.verify.VERIFY_BROADCAST_CAP)
    cosine_fused_cap: int | None = None
    # random-hyperplane LSH for cosine candidates at scale
    hyperplane_bits: int = 64
    hyperplane_bands: int = 8
    hyperplane_seed: int = 42
    # above-cap cosine candidate strategy: "hyperplane" (SRP banding —
    # right for HIGH thresholds, θ>=0.9, where width-16 bands separate
    # well) or "ivf" (coarse k-means cells + per-cell fused gemm scan —
    # right for MID thresholds / correlated embeddings, where SRP's
    # per-band collision rate on sub-threshold pairs explodes the
    # candidate set: measured 4.1% of ALL pairs at θ=0.75 on the code
    # corpus vs ~n/cells selectivity for IVF)
    cosine_candidates: str = "hyperplane"
    # IVF geometry: None -> auto (~sqrt of the input size, capped so
    # driver k-means training stays bounded); probe = how many nearest
    # cells each row scans against (its home cell first)
    ivf_cells: int | None = None
    ivf_probe: int = 2
    # home rows per cell actually scanned (lowest ids kept when a cell
    # overflows — the star-cap argument: every probe row still reaches
    # the cell's min-id members, so >=θ cliques stay CC-connected)
    ivf_cell_cap: int = 20000
    # probe rows per salted IVF scan subgroup. applyInPandas
    # materializes a WHOLE group in one python worker, and correlated
    # embeddings skew cell populations (round-5: unsalted mega-cell
    # groups OOM'd a 128 GiB box at 1M rows), so group size is bounded
    # by salting the probe stream and replicating the capped home pack
    ivf_group_cap: int = 50000
    # IVF salt-shuffle payload routing (verify.cosine_threshold_edges_ivf):
    # None -> auto (id-only shuffle + executor-blob row gathers when
    # blob transport is available and the input is >= 100k rows);
    # True/False force the id-only / payload-shuffle plan (results are
    # bit-identical either way — this only picks the transport); True
    # without blob transport warns and runs the payload shuffle
    ivf_payload_blob: bool | None = None
    # per-row neighbor cap in the FUSED cosine kernels — the
    # reference's ANN result cap (max_k=100, semhash/index.py:59).
    # Bounds edge emission for mega-clusters (an m-member >=θ clique
    # emits m*max_k edges instead of m^2/2) while keeping complete
    # sub-clusters connected for min-id CC. None = uncapped.
    cosine_max_k: int | None = 100

    # --- cross-dedup single-job blob index ---
    # fitted indexes at or above this many exemplar rows get their
    # exact-key / thinned-band / shingle structures packed as
    # executor-side blobs at prepare_index() time, and deduplicate()
    # answers query batches in ONE map-only job instead of the
    # relational plan (whose per-call cost is full scans of the
    # fitted caches — the reference-benchmark dedup-only shape).
    # Below the gate the relational plan is cheaper than the blob
    # build. None disables the path.
    cross_blob_min_rows: int | None = 300_000

    # Fitted sides at or above this many exemplars store their band
    # memo PRE-thinned (the oversized-bucket aggregation runs once at
    # prepare_index, not per deduplicate call — the dominant dedup-only
    # cost at the 4.3k-queries-vs-1.8M reference shape). Below it the
    # memo stays unthinned and candidate_pairs_cross thins per call:
    # at small index sizes the per-call aggregate costs less than the
    # extra band-table pass at fit time. Results are identical either
    # way (same consistent-hash filter). The blob path always consumes
    # pre-thinned bands, so cross_blob_min_rows also forces thinning.
    cross_thin_min_rows: int = 300_000

    # --- connected components ---
    # verified-edge sets at or below this resolve on the driver
    # (numpy label propagation); above it, distributed alternating
    # large-star/small-star rounds. None -> operators.components
    # DRIVER_CC_CAP. Set 0 to force the distributed path (scale
    # rehearsal / star-path benchmarks).
    driver_cc_cap: int | None = None

    # --- ranking / filtering (reference: semhash.py:384,331-333) ---
    rank_k: int = 100
    outlier_percentage: float = 0.1
    selection_size: int = 10
    diversity: float = 0.5
    # representative-selection strategy: mmr | msd | cover (reference
    # pyversity surface, semhash/semhash.py:11,333)
    diversify_strategy: str = "mmr"

    # --- containment (substring) stage ---
    containment_threshold: float = 0.9
    anchor_mod: int = 8  # keep shingle hashes where h % anchor_mod == 0
    # "mod" (0-mod-p sampling) or "winnow" (true SIGMOD'03 winnowing:
    # min hash per sliding window — every doc contributes >= 1 anchor,
    # closing the mod policy's zero-anchor recall hole on short docs)
    anchor_policy: str = "mod"
    winnow_window: int = 8

    # --- execution ---
    checkpoint_dir: str | None = None
    shuffle_partitions: int = 32

    def __post_init__(self) -> None:
        if self.num_perm % self.bands != 0:
            raise ValueError("num_perm must be divisible by bands")
        if not 0.0 <= self.threshold <= 1.0:
            raise ValueError("threshold must be in [0, 1]")
        if self.minhash_family not in ("kperm", "oph"):
            raise ValueError("minhash_family must be 'kperm' or 'oph'")
        if self.anchor_policy not in ("mod", "winnow"):
            raise ValueError("anchor_policy must be 'mod' or 'winnow'")
        if self.minhash_family == "oph" and self.num_perm & (self.num_perm - 1):
            raise ValueError("minhash_family='oph' needs a power-of-two num_perm")

    @property
    def rows_per_band(self) -> int:
        return self.num_perm // self.bands

    def with_(self, **kw) -> "DedupConfig":
        return replace(self, **kw)

    def with_tuned_bands(self, fp_weight: float = 0.5, fn_weight: float = 0.5
                         ) -> "DedupConfig":
        """Re-derive ``bands`` from the S-curve optimum for this
        threshold/num_perm (operators/lsh.optimal_bands)."""
        from semhash_spark.operators.lsh import optimal_bands

        b, _ = optimal_bands(self.threshold, self.num_perm, fp_weight, fn_weight)
        return replace(self, bands=b)
