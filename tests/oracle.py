"""Numpy oracle: a faithful reimplementation of the reference
library's semantics (MinishLab/semhash), used to parity-check the
Spark pipeline. The reference's deps (model2vec/vicinity/pyversity)
are not installed here, so the LOGIC is ported with citations:

* exact dedup first-occurrence-wins  (semhash/utils.py:87-124)
* exact-group items                  (semhash/semhash.py:74-96)
* threshold query, max_k=100, sims = 1 - cosine distance, expansion
  over exact groups                  (semhash/index.py:50-70)
* greedy seen-set self-dedup         (semhash/semhash.py:233-300)
* cross-dedup existential filter     (semhash/semhash.py:170-231)
* top-k ranking by mean similarity   (semhash/semhash.py:461-519)
* outlier ceil-slice                 (semhash/semhash.py:381-459)

Only the Backend.BASIC (exact search) behavior is modeled.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from semhash_spark.functions.encoder import HashingEncoder


def frozen_key(record: dict, columns) -> tuple:
    """to_frozendict analogue (reference utils.py:31-33)."""
    return tuple((c, record.get(c, "")) for c in sorted(set(columns)))


def remove_exact_duplicates(records, columns, reference_items=None):
    """Port of reference utils.py:87-124 (incl. in_one_set switch)."""
    deduplicated, duplicates = [], []
    seen: dict[tuple, list] = {}
    if reference_items is not None:
        for group in reference_items:
            seen[frozen_key(group[0], columns)] = list(group)
    in_one_set = reference_items is None
    for record in records:
        k = frozen_key(record, columns)
        if k in seen and seen[k]:
            duplicates.append((record, seen[k]))
        else:
            deduplicated.append(record)
            if in_one_set:
                seen.setdefault(k, []).append(record)
    return deduplicated, duplicates


def build_items(records, columns):
    """Exact groups in first-occurrence order (semhash.py:71-85)."""
    deduped, dups = remove_exact_duplicates(records, columns)
    groups = {frozen_key(r, columns): [r] for r in deduped}
    for r, _ in dups:
        groups[frozen_key(r, columns)].append(r)
    return [groups[frozen_key(r, columns)] for r in deduped]


def featurize(records, columns, encoder) -> np.ndarray:
    """Per-column encode + concat (reference utils.py:64-84)."""
    parts = [
        np.asarray(encoder.encode([r.get(c, "") for r in records]))
        for c in columns
    ]
    return np.concatenate(parts, axis=1)


def _cosine_matrix(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    qn = np.linalg.norm(q, axis=1, keepdims=True)
    xn = np.linalg.norm(x, axis=1, keepdims=True)
    qq = np.divide(q, qn, out=np.zeros_like(q, dtype=np.float64), where=qn > 0)
    xx = np.divide(x, xn, out=np.zeros_like(x, dtype=np.float64), where=xn > 0)
    return qq @ xx.T


def query_threshold(query_vecs, index_vecs, items, threshold, max_k=100):
    """Reference index.py:50-70: per query, groups with similarity >=
    threshold, nearest-first, capped at max_k groups, expanded over
    exact-group members at the group's score."""
    sims = _cosine_matrix(np.asarray(query_vecs), np.asarray(index_vecs))
    out = []
    for row in sims:
        order = np.argsort(-row, kind="stable")
        hits = [(int(j), float(row[j])) for j in order if row[j] >= threshold][:max_k]
        expanded = [(rec, s) for j, s in hits for rec in items[j]]
        out.append(expanded)
    return out


def query_top_k(query_vecs, index_vecs, k, vectors_are_in_index):
    """Reference index.py:72-89 (positional self-offset trick)."""
    sims = _cosine_matrix(np.asarray(query_vecs), np.asarray(index_vecs))
    offset = int(vectors_are_in_index)
    res = []
    for row in sims:
        order = np.argsort(-row, kind="stable")[: k + offset]
        res.append((order[offset:], row[order[offset:]]))
    return res


@dataclass
class OracleDedupResult:
    selected: list = field(default_factory=list)
    filtered: list = field(default_factory=list)  # (record, [(dup, score)], exact)

    @property
    def duplicate_ratio(self):
        denom = len(self.selected) + len(self.filtered)
        return 1.0 - len(self.selected) / denom if denom else 0.0

    @property
    def exact_duplicate_ratio(self):
        denom = len(self.selected) + len(self.filtered)
        return (
            len([f for f in self.filtered if f[2]]) / denom if denom else 0.0
        )


def greedy_self_dedup_ids(ids, sim, threshold, max_k=100):
    """Metric-agnostic greedy scan (reference semhash.py:269-290) over
    a precomputed similarity matrix, for pair-recall comparison at
    the same shingle/signature config as the Spark pipeline.

    ``ids`` are pre-collapsed exact exemplars in first-occurrence
    order. Returns (selected_ids, dup_pairs) where dup_pairs is the
    set of unordered (filtered_record, neighbor) id pairs the
    reference would report in DuplicateRecord.duplicates.
    """
    sim = np.asarray(sim)
    n = len(ids)
    neighborhoods = []
    for i in range(n):
        order = np.argsort(-sim[i], kind="stable")
        hits = [j for j in order if sim[i, j] >= threshold][:max_k]
        neighborhoods.append(hits)
    selected, pairs = [], set()
    seen: set[int] = set()
    for i in range(n):
        hits = neighborhoods[i]
        if not hits:
            selected.append(ids[i])
            continue
        if any(j in seen for j in hits):
            for j in hits:
                if j != i:
                    pairs.add(tuple(sorted((ids[i], ids[j]))))
            continue
        selected.append(ids[i])
        seen.update(hits)
    return selected, pairs


class OracleSemHash:
    """Driver-side reference-semantics engine over small fixtures."""

    def __init__(self, records, columns=None, encoder=None, embeddings=None):
        if columns is None:
            columns = ["text"]
            records = [{"text": r} if isinstance(r, str) else r for r in records]
        self.columns = list(columns)
        self.records = list(records)
        self.encoder = encoder or HashingEncoder()
        self.items = build_items(self.records, self.columns)
        firsts = [g[0] for g in self.items]
        if embeddings is not None:
            # from_embeddings: first embedding per exact group
            # (reference semhash.py:144-160)
            emb = np.asarray(embeddings)
            keep, seen = [], set()
            for i, r in enumerate(self.records):
                k = frozen_key(r, self.columns)
                if k not in seen:
                    seen.add(k)
                    keep.append(i)
            self.vectors = emb[keep]
        else:
            self.vectors = featurize(firsts, self.columns, self.encoder)

    # ------------------------------------------------- self dedup
    def self_deduplicate(self, threshold=0.9):
        """Verbatim port of reference semhash.py:233-300."""
        results = query_threshold(
            self.vectors, self.vectors, self.items, threshold, max_k=100
        )
        selected, filtered = [], []
        seen: set = set()
        for item, similar in zip(self.items, results):
            record, *dups = item
            for idx, cur in enumerate(dups, 1):
                others = item[:idx] + item[idx + 1 :]
                filtered.append((cur, [(o, 1.0) for o in others], True))
            if not similar:
                selected.append(record)
                continue
            frozen = [frozen_key(it, self.columns) for it, _ in similar]
            if any(f in seen for f in frozen):
                filtered.append(
                    (record, [(it, s) for it, s in similar if it != record], False)
                )
                continue
            selected.append(record)
            seen.update(frozen)
        return OracleDedupResult(selected=selected, filtered=filtered)

    # ------------------------------------------------ cross dedup
    def deduplicate(self, records, threshold=0.9):
        """Verbatim port of reference semhash.py:170-231."""
        records = [{"text": r} if isinstance(r, str) else r for r in records]
        kept, exact = remove_exact_duplicates(records, self.columns, self.items)
        filtered = [(r, [(d, 1.0) for d in dups], True) for r, dups in exact]
        if not kept:
            return OracleDedupResult(selected=[], filtered=filtered)
        q = featurize(kept, self.columns, self.encoder)
        results = query_threshold(q, self.vectors, self.items, threshold, max_k=100)
        selected = []
        for record, similar in zip(kept, results):
            if not similar:
                selected.append(record)
            else:
                filtered.append((record, list(similar), False))
        return OracleDedupResult(selected=selected, filtered=filtered)

    # ----------------------------------------------------- ranking
    def _self_rank(self):
        firsts = [g[0] for g in self.items]
        res = query_top_k(self.vectors, self.vectors, 100, True)
        scored = [(r, float(np.mean(s))) for r, (_, s) in zip(firsts, res)]
        scored.sort(key=lambda x: x[1], reverse=True)  # python stable sort
        return scored

    def _rank(self, records):
        records = [{"text": r} if isinstance(r, str) else r for r in records]
        q = featurize(records, self.columns, self.encoder)
        res = query_top_k(q, self.vectors, 100, False)
        scored = [(r, float(np.mean(s))) for r, (_, s) in zip(records, res)]
        scored.sort(key=lambda x: x[1], reverse=True)
        return scored

    def self_filter_outliers(self, pct=0.1):
        from math import ceil

        ranking = self._self_rank()
        cnt = ceil(len(ranking) * pct)
        if cnt == 0:
            return [r for r, _ in ranking], []
        return [r for r, _ in ranking[:-cnt]], [r for r, _ in ranking[-cnt:]]

    def filter_outliers(self, records, pct=0.1):
        from math import ceil

        ranking = self._rank(records)
        cnt = ceil(len(ranking) * pct)
        if cnt == 0:
            return [r for r, _ in ranking], []
        return [r for r, _ in ranking[:-cnt]], [r for r, _ in ranking[-cnt:]]


def topk_crossjoin(query_feats, index_feats, k, exclude_self=False,
                   id_col="record_id", emb_col="embedding"):
    """Spark-side top-k reference: (query_id, index_id, score, rk) from
    the explicit |Q| x |X| pair crossjoin + per-query window, with the
    library's tie-break (score desc, index_id asc) and NULL/zero-norm
    rows never ranking. Too slow for any real size, so it is a test
    reference of ``rank.topk_scores``'s plans, not one of them."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from semhash_spark.functions.vectors import cosine_similarity

    q = query_feats.select(F.col(id_col).alias("query_id"), F.col(emb_col).alias("_qe"))
    i = index_feats.select(F.col(id_col).alias("index_id"), F.col(emb_col).alias("_ie"))
    pairs = q.crossJoin(i)
    if exclude_self:
        pairs = pairs.where(F.col("query_id") != F.col("index_id"))
    scored = (
        pairs.withColumn("score", cosine_similarity("_qe", "_ie"))
        .drop("_qe", "_ie")
        .where(F.col("score").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("index_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= k)


# ------------------------------------------ per-row UDF references
#
# One row at a time, from each UDF's definition, so the batched Arrow
# kernels (``functions/arrays.py`` at their boundary) can be checked on
# NULL, empty, zero-norm and single-row input. ``None`` is a NULL list.

LONG_MAX = (1 << 63) - 1


def minhash_row(shingles, num_perm):
    """Broder MinHash: sig[p] = min_s (a_p * s + b_p) mod 2^64, signed;
    no shingles -> all LONG_MAX."""
    from semhash_spark.functions.hashing import _perm_family

    if not shingles:
        return [LONG_MAX] * num_perm
    a, b = _perm_family(num_perm)
    s = np.asarray(shingles, dtype=np.int64).view(np.uint64)
    return [int(np.min(s * a[p] + b[p]).astype(np.uint64).view(np.int64))
            for p in range(num_perm)]


def oph_row(shingles, num_perm):
    """One-permutation MinHash of one row (the kernel on a 1-row batch)."""
    from semhash_spark.functions.hashing import _oph_pack

    s = np.asarray(shingles or [], dtype=np.int64).view(np.uint64)
    return _oph_pack(s, np.array([len(s)]), 1, num_perm)[0].view(np.int64).tolist()


def simhash_row(shingles):
    """Bit b set iff more than half the shingle hashes have bit b set;
    no shingles -> 0."""
    s = np.asarray(shingles or [], dtype=np.int64).view(np.uint64)
    fp = 0
    for bit in range(64):
        ones = int(((s >> np.uint64(bit)) & np.uint64(1)).sum())
        if 2 * ones > len(s):
            fp |= 1 << bit
    return fp - (1 << 64) if fp >= 1 << 63 else fp


def cosine_row(a, b):
    """Cosine of two vectors; None when either is NULL or zero-norm
    (an empty list reads as a zero vector)."""
    if a is None or b is None or not any(a) or not any(b):
        return None
    x, y = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    return float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))


def hyperplane_row(v, bits, bands, seed, dim):
    """Sign-random-projection band keys of one vector: NULL -> [];
    an empty list projects like a zero vector (all signs unset)."""
    if v is None:
        return []
    h = np.random.Generator(np.random.PCG64(seed)).standard_normal((bits, dim))
    x = np.zeros(dim) if len(v) == 0 else np.asarray(v, dtype=np.float64)
    signs = (h[:, : len(x)] @ x) > 0
    width = bits // bands
    out = []
    for b in range(bands):
        word = sum(1 << j for j in range(width) if signs[b * width + j])
        word ^= b << 56
        out.append(word - (1 << 64) if word >= 1 << 63 else word)
    return out


def probe_cells_row(v, cents, n_probe):
    """The n_probe nearest centroid cells of one vector, by (score
    desc, cell asc); NULL, empty and zero-norm vectors -> []."""
    if v is None or not any(v):
        return []
    x = np.asarray(v, dtype=np.float64)
    s = np.asarray(cents, dtype=np.float64)[:, : len(x)] @ x
    return sorted(range(len(s)), key=lambda c: (-s[c], c))[:n_probe]


def threshold_edges(rows, threshold):
    """{(a, b): cosine} of every a < b pair at >= threshold among
    (id, vector) rows; NULL and zero-norm vectors never pair."""
    ok = [(i, np.asarray(v, dtype=np.float64)) for i, v in rows
          if v is not None and any(v)]
    out = {}
    for p, (i, x) in enumerate(ok):
        for j, y in ok[p + 1:]:
            s = float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
            if s >= threshold:
                out[(min(i, j), max(i, j))] = s
    return out


def self_topk_avgs(rows, k):
    """{id: mean of its top-k cosines to the other rows} among (id,
    vector) rows; NULL and zero-norm vectors never rank nor are
    ranked, and a row with nothing to rank gets no entry."""
    ok = [(i, np.asarray(v, dtype=np.float64)) for i, v in rows
          if v is not None and any(v)]
    out = {}
    for i, x in ok:
        sims = sorted((float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y)))
                       for j, y in ok if j != i), reverse=True)[:k]
        if sims:
            out[i] = sum(sims) / len(sims)
    return out
