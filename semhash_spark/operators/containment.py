"""Containment (substring) stage — catches contained-duplicate
fragments invisible to MinHash/Jaccard at low overall similarity.

A fragment X pasted inside a much larger file Y has Jaccard(X,Y)
~ |X|/|Y| (small) but containment |S(X) ∩ S(Y)| / |S(X)| ~ 1.

Public technique: winnowing fingerprints (Schleimer, Wilkerson,
Aiken — "Winnowing: Local Algorithms for Document Fingerprinting",
SIGMOD 2003), simplified to mod-p anchor sampling ("0 mod p"
fingerprinting from the same paper): a shingle hash is an ANCHOR iff
``h % anchor_mod == 0``. Both X and Y select the same anchors for
shared regions, so anchor equality is a join key.

Plan:
  (id, shingles) projection, persisted once --> distributed parquet
  write (the blob) and --filter anchors--> explode (record_id,
  band_idx=0, band_hash=anchor) --1 shuffle on the anchor, sorted by
  id--> the LSH bucket generator (skew-capped like LSH buckets)
  scores every candidate pair in-task against the mmap'd blob:
  containment |S(a) ∩ S(b)| / min(|S(a)|, |S(b)|) --> distinct edges
  >= containment_threshold, collected before the blob and the
  projection cache are dropped.

No candidate pair relation is shuffled, counted or joined with the
shingle arrays. Without blob transport, or with a blob above
VERIFY_BROADCAST_MAX_BYTES, the candidates are joined with the
shingle arrays and scored by ``verify_containment`` (JVM) instead.
``lcs_confirm`` joins content back ONLY for surviving edges (tiny
relation), never shuffling content at scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark.kernels import _lcs_len_hash
from semhash_spark.operators.lsh import candidate_pairs_self, verified_edges_self


def anchor_table(
    feats: DataFrame,
    shingle_col: str = "shingles",
    anchor_mod: int = 8,
    id_col: str = "record_id",
    policy: str = "mod",
    window: int = 8,
    positional_col: str | None = None,
) -> DataFrame:
    """(record_id, band_idx=0, band_hash=anchor) rows for each anchor
    shingle hash. Reuses the LSH bucket machinery for skew caps.

    Policies (both from Schleimer/Wilkerson/Aiken, SIGMOD 2003):

    * ``mod`` — 0-mod-p sampling: anchor iff ``h % anchor_mod == 0``.
      Expected density 1/p but NO lower bound: a short document whose
      few shingle hashes all miss the residue gets ZERO anchors and
      silently drops out of containment detection.
    * ``winnow`` — true winnowing: the minimum hash of every
      ``window`` consecutive shingles is selected, so every document
      contributes at least one anchor. Pass ``positional_col`` (a
      PRE-distinct, document-order shingle sequence —
      functions/hashing.shingle_hashes_positional) to also get the
      paper's CROSS-document guarantee: every shared run of
      ``window + k - 1`` tokens yields a common anchor. Winnowing the
      distinct-collapsed ``shingle_col`` instead (the fallback when
      no positional column is available) keeps the per-document
      >=1-anchor floor but the shared-run guarantee becomes
      APPROXIMATE for documents with repeated shingles: a shingle
      that occurred earlier in only one document shifts that
      document's window contents, and the two documents can select
      disjoint anchors for the same run (ADVICE r3). Expected anchor
      density ~2/(window+1) either way. Pure JVM higher-order
      expressions (array_min over slices) — O(len * window) per row,
      no Python.
    """
    if policy == "winnow":
        g = F.col(positional_col if positional_col is not None else shingle_col)
        win = F.when(
            F.size(g) <= window,
            F.array(F.array_min(g)),
        ).otherwise(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(g) - window),
                    lambda i: F.array_min(F.slice(g, i + 1, window)),
                )
            )
        )
        anchors = F.filter(win, lambda h: h.isNotNull())
    elif policy == "mod":
        anchors = F.filter(
            F.col(shingle_col), lambda h: h % anchor_mod == F.lit(0)
        )
    else:
        raise ValueError(f"unknown anchor policy {policy!r}; 'mod' or 'winnow'")
    return feats.select(
        F.col(id_col),
        F.lit(0).alias("band_idx"),
        F.explode(anchors).alias("band_hash"),
    )


def containment_edges(
    feats: DataFrame,
    cfg,
    id_col: str = "record_id",
    persisted: list | None = None,
) -> DataFrame:
    """Directed containment edges (a, b, score): the SMALLER side's
    shingle set is >= containment_threshold contained in the other.

    Output is symmetric-ready for the CC edge union: (a, b, score)
    with a < b (ids), score = containment ratio of the smaller set.

    The verified edges are computed before the call returns (a
    driver-held frame, see ``lsh.verified_edges_self``): the scratch
    blob and the (id, shingles) cache are gone by then, and the frame
    stays usable however long it lives. The join fallback is lazy and
    caches nothing. ``persisted`` is accepted for call-site
    compatibility; the call leaves nothing for it to release.
    """
    from semhash_spark.operators.verify import verify_containment

    # strict winnowing guarantee when the caller carried the
    # positional sequence through (see anchor_table docstring)
    pos = "shingles_pos" if "shingles_pos" in feats.columns else None
    # one projection serves the blob write and the anchors, instead of
    # re-deriving shingles from the caller's plan for each
    sh = feats.select(id_col, "shingles", *([pos] if pos else [])).persist()
    try:
        at = anchor_table(
            sh, "shingles", cfg.anchor_mod, id_col,
            policy=cfg.anchor_policy,
            window=cfg.winnow_window,
            positional_col=pos,
        )
        scored = verified_edges_self(at, sh, cfg.bucket_cap, id_col, "containment",
                                     cfg.containment_threshold, "contain")
    finally:
        sh.unpersist()
    if scored is None:
        cands = candidate_pairs_self(at, cfg.bucket_cap, id_col)
        scored = verify_containment(
            cands, sh, "shingles", id_col, cfg.containment_threshold,
            strategy="join",
        ).select("a", "b", "score")
    return scored


# -------------------------------------------------- substring confirm


def lcs_confirm(
    pairs: DataFrame,
    content_df: DataFrame,
    id_col: str = "record_id",
    content_col: str = "content",
    min_frac: float = 0.8,
    max_pairs: int | None = 1_000_000,
) -> DataFrame:
    """Confirm containment candidates by LONGEST COMMON SUBSTRING:
    keep pairs whose longest shared character run covers at least
    ``min_frac`` of the smaller document. Stricter than the shingle
    ratio (contiguity required) yet tolerant of fragments that are
    not byte-exact substrings, unlike ``instr``. Content joins only
    onto the surviving-candidate relation (tiny), never shuffling the
    corpus; the per-pair kernel (``kernels._lcs_len_hash``) runs
    Arrow-batched.

    Output: (a, b, score, lcs_frac).

    :param max_pairs: guard on the surviving-candidate volume — the
        per-pair automaton is the heaviest Python in the repo, so an
        unexpectedly permissive anchor_mod/threshold should fail fast
        with sizing guidance instead of burning hours (VERDICT r1 #4
        / ADVICE). ``None`` disables the check (and its count job).
    """
    if max_pairs is not None:
        n_pairs = pairs.count()
        if n_pairs > max_pairs:
            raise ValueError(
                f"lcs_confirm received {n_pairs} candidate pairs "
                f"(> max_pairs={max_pairs}); raise anchor_mod / "
                "containment_threshold to shrink the candidate set, or "
                "pass max_pairs=None to force the run"
            )
    c = content_df.select(F.col(id_col), F.col(content_col))
    j = (
        pairs.join(c.select(F.col(id_col).alias("a"),
                            F.col(content_col).alias("_ca")), "a")
        .join(c.select(F.col(id_col).alias("b"),
                       F.col(content_col).alias("_cb")), "b")
    )

    def confirm(batches):
        import pyarrow as pa

        for batch in batches:
            if batch.num_rows == 0:
                continue
            fracs = []
            for ca, cb in zip(batch["_ca"].to_pylist(), batch["_cb"].to_pylist()):
                small, big = (ca, cb) if len(ca) <= len(cb) else (cb, ca)
                fracs.append(_lcs_len_hash(big, small) / len(small) if small else 0.0)
            fracs = np.asarray(fracs, dtype=np.float64)
            out = pa.RecordBatch.from_arrays(
                [batch["a"], batch["b"], batch["score"], pa.array(fracs)],
                names=["a", "b", "score", "lcs_frac"])
            yield out.filter(pa.array(fracs >= min_frac))

    return j.mapInArrow(confirm, "a long, b long, score double, lcs_frac double")
