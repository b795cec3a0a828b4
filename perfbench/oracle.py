"""Exact answers the benchmark checks the engine's outputs against.

Everything here is plain Python and numpy over the generated contents:
exact shingle-set Jaccard and containment, exact cosine of the hashing
encoder's vectors, and the planted duplicate pairs of
``semhash_spark.sources.corpus``. It runs outside every timed region.
"""

from __future__ import annotations

import numpy as np


def shingles(text: str, k: int) -> frozenset:
    """Distinct word k-grams, as the engine's word shingling defines them:
    whitespace tokens, and a text shorter than k tokens is one shingle."""
    toks = text.split()
    if not toks:
        return frozenset()
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def containment(a: frozenset, b: frozenset) -> float:
    small = min(len(a), len(b))
    return len(a & b) / small if small else 0.0


def planted_pairs(n: int) -> list[tuple[int, int]]:
    """Every pair the corpus generator plants among ids below ``n``:
    exact copies, members of each near-duplicate cluster, and contained
    fragments. Pairs are (smaller id, larger id)."""
    from semhash_spark.sources.corpus import (
        truth_containment_pairs,
        truth_exact_pairs,
        truth_near_clusters,
    )

    pairs = set()
    for a, b in truth_exact_pairs(n) + truth_containment_pairs(n):
        pairs.add((min(a, b), max(a, b)))
    for members in truth_near_clusters(n):
        m = sorted(members)
        pairs.update((m[i], m[j]) for i in range(len(m)) for j in range(i + 1, len(m)))
    return sorted(pairs)


class TextOracle:
    """Exact similarities over one corpus, keyed by record id."""

    def __init__(self, contents: dict[int, str], shingle_k: int,
                 embedding_dim: int = 0, embedding_ngram: int = 1) -> None:
        self.contents = contents
        self.k = shingle_k
        self.dim = embedding_dim
        self.ngram = embedding_ngram
        self._sh: dict[int, frozenset] = {}
        self._emb: dict[int, np.ndarray] = {}

    def sh(self, rid: int) -> frozenset:
        if rid not in self._sh:
            self._sh[rid] = shingles(self.contents[rid], self.k)
        return self._sh[rid]

    def jaccard(self, a: int, b: int) -> float:
        return jaccard(self.sh(a), self.sh(b))

    def containment(self, a: int, b: int) -> float:
        return containment(self.sh(a), self.sh(b))

    def embed(self, ids) -> None:
        """Encode the contents of ``ids`` not encoded yet, in one batch."""
        from semhash_spark.functions.encoder import encode_texts

        todo = sorted({int(i) for i in ids} - self._emb.keys())
        if todo:
            vecs = encode_texts([self.contents[i] for i in todo], self.dim, self.ngram)
            self._emb.update(zip(todo, vecs.astype(np.float64)))

    def cosine(self, a, b) -> np.ndarray:
        """Exact cosine of each pair (a[i], b[i]); 0 where a vector is zero."""
        a, b = np.atleast_1d(a).astype(int), np.atleast_1d(b).astype(int)
        self.embed(np.concatenate([a, b]))
        va = np.stack([self._emb[i] for i in a])
        vb = np.stack([self._emb[i] for i in b])
        norms = np.linalg.norm(va, axis=1) * np.linalg.norm(vb, axis=1)
        dots = np.einsum("ij,ij->i", va, vb)
        return np.divide(dots, norms, out=np.zeros_like(dots), where=norms > 0)

    def exact_groups(self, ids) -> dict[int, int]:
        """id -> smallest id with the same content, for the given ids."""
        first: dict[str, int] = {}
        out = {}
        for rid in sorted(ids):
            out[rid] = first.setdefault(self.contents[rid], rid)
        return out


def cluster_roots(ids, filtered) -> dict[int, int]:
    """Cluster of every id from a self-dedup result: a selected row is its
    own root, a filtered row joins its exemplar's cluster.

    ``filtered`` is a sequence of (record_id, exemplar_id).
    """
    parent = {int(i): int(i) for i in ids}
    for rid, ex in filtered:
        parent[int(rid)] = int(ex)

    def root(i: int) -> int:
        seen = 0
        while parent[i] != i:
            i = parent[i]
            seen += 1
            if seen > len(parent):
                raise ValueError("exemplar chain has a cycle")
        return i

    return {i: root(i) for i in parent}


def recall(pairs, same_cluster) -> float:
    """Share of ``pairs`` that ``same_cluster(a, b)`` reports as found.
    An empty truth set has recall 1.0."""
    if not pairs:
        return 1.0
    return sum(1 for a, b in pairs if same_cluster(a, b)) / len(pairs)
