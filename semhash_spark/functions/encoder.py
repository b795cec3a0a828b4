"""Deterministic hashing text encoder.

Stand-in for the reference's model2vec static embedder
(semhash/semhash.py:67-69): any object with
``encode(list[str]) -> np.ndarray`` satisfies the reference's
Encoder protocol (semhash/utils.py:13-28). This one is a token-hash
bag-of-words into ``dim`` buckets with +/-1 signs, L2-normalized —
mirroring the normalized 128-dim test model the reference pins its
tests to (reference tests/data/test_model/config.json).

The SAME numpy kernel runs inside the Spark Arrow UDF (Arrow
batches, vectorized per unique token) and inside the pytest oracle,
so cosine scores agree bit-for-bit between pipeline and oracle.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql import types as T

from semhash_spark.functions.arrays import list_array
from semhash_spark.kernels import _ramp


@lru_cache(maxsize=1 << 20)
def _token_hash(token: str) -> int:
    return int.from_bytes(hashlib.sha1(token.encode("utf-8")).digest()[:8], "little")


def encode_texts(texts: list[str], dim: int = 64, ngram: int = 1) -> np.ndarray:
    """Encode texts to L2-normalized float32 vectors, shape (n, dim).

    ``ngram`` > 1 hashes token n-grams (space-joined) instead of
    single tokens — see ``DedupConfig.embedding_ngram`` for why this
    matters on small-vocabulary corpora.

    Vectorized: tokens are uniqued batch-wide (``pd.factorize``,
    hash-based C path), only UNIQUE tokens are sha1-hashed in Python,
    and the per-row accumulation is one ``np.bincount``. Bit-identical
    to a per-token loop: contributions are ±1 integers, so float
    summation order cannot change the result.
    """
    import itertools

    n = len(texts)
    tok_lists = [t.split() for t in texts]
    tlens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
    if ngram > 1:
        lens = np.maximum(tlens - (ngram - 1), 0)
    else:
        lens = tlens
    total = int(lens.sum())
    if total == 0:
        return np.zeros((n, dim), dtype=np.float32)
    flat = np.asarray(list(itertools.chain.from_iterable(tok_lists)), dtype=object)
    codes, uniq = pd.factorize(flat, sort=False)
    if ngram == 1:
        h = np.fromiter(
            (_token_hash(t) for t in uniq), dtype=np.uint64, count=len(uniq)
        )
        hh = h[codes]
    elif len(uniq) ** ngram < 1 << 62:
        # n-gram path without materializing one joined string PER
        # OCCURRENCE (round 6: the per-occurrence " ".join dominated
        # the featurize stage): factorize single tokens once, pack
        # each n-gram's token codes into one int64 key, unique the
        # keys, and build + sha1 only the UNIQUE n-gram strings. The
        # strings hashed are identical to the per-occurrence form, so
        # the embedding is bit-identical.
        offs = np.zeros(n, dtype=np.int64)
        np.cumsum(tlens[:-1], out=offs[1:])
        starts = np.repeat(offs, lens) + _ramp(lens)
        K = len(uniq)
        packed = codes[starts].astype(np.int64)
        for j in range(1, ngram):
            packed = packed * K + codes[starts + j]
        uniq_keys, inv = np.unique(packed, return_inverse=True)
        digs = np.empty((len(uniq_keys), ngram), dtype=np.int64)
        rem = uniq_keys
        for j in range(ngram - 1, -1, -1):
            digs[:, j] = rem % K
            rem = rem // K
        h = np.fromiter(
            (_token_hash(" ".join(uniq[d] for d in row)) for row in digs),
            dtype=np.uint64, count=len(uniq_keys),
        )
        hh = h[inv]
    else:  # astronomically wide code space: per-occurrence fallback
        grams = [
            " ".join(t[i : i + ngram]) for t in tok_lists
            for i in range(len(t) - ngram + 1)
        ]
        gcodes, guniq = pd.factorize(np.asarray(grams, dtype=object), sort=False)
        h = np.fromiter(
            (_token_hash(t) for t in guniq), dtype=np.uint64, count=len(guniq)
        )
        hh = h[gcodes]
    idx = (hh % np.uint64(dim)).astype(np.int64)
    sign = np.where((hh >> np.uint64(8)) & np.uint64(1) == 1, 1.0, -1.0)
    rows = np.repeat(np.arange(n), lens)
    out = np.bincount(
        rows * dim + idx, weights=sign, minlength=n * dim
    ).reshape(n, dim)
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    np.divide(out, norms, out=out, where=norms > 0)
    return out.astype(np.float32)


class HashingEncoder:
    """Encoder-protocol object (reference semhash/utils.py:13-28)."""

    def __init__(self, dim: int = 64, ngram: int = 1) -> None:
        self.dim = dim
        self.ngram = ngram

    def encode(self, sentences, **kwargs) -> np.ndarray:
        if isinstance(sentences, str):
            sentences = [sentences]
        return encode_texts(list(sentences), self.dim, self.ngram)


def embed_udf(dim: int = 64, ngram: int = 1):
    """Scalar Arrow UDF: string column -> array<float> embedding
    (float32 lists, the declared element type; NULL texts encode as
    empty texts).

    Arrow-batched; the per-batch cost is one python loop over tokens
    (the encoder), identical to the reference's batch
    ``model.encode(texts)`` call shape (semhash/utils.py:79-82).
    """

    @F.arrow_udf(T.ArrayType(T.FloatType()))
    def _embed(s: pa.Array) -> pa.Array:
        # encode in bounded row slices: a 50k-row Arrow batch of ~1 KB
        # texts explodes into ~6M python token strings at once inside
        # encode_texts (~0.4-0.7 GB/worker high-water, which the malloc
        # arenas then RETAIN — the dominant worker-RSS term measured at
        # the 1M flagship). Per-row output is independent of the slice
        # split, so this is bit-identical.
        step = 8192
        texts = s.fill_null("")
        if len(texts) <= step:
            mat = encode_texts(texts.to_pylist(), dim, ngram)
        else:
            mat = np.vstack([
                encode_texts(texts.slice(lo, step).to_pylist(), dim, ngram)
                for lo in range(0, len(texts), step)
            ])
        return list_array(mat)

    return _embed


def featurize(df, columns, dim: int = 64, out_col: str = "embedding",
              ngram: int = 1):
    """Concatenate per-column embeddings along the feature axis.

    Mirrors reference ``featurize`` (semhash/utils.py:64-84): each
    declared column is encoded separately and the vectors are
    concatenated in ``columns`` order.
    """
    udf = embed_udf(dim, ngram)
    parts = [udf(F.coalesce(F.col(c), F.lit("")).cast("string")) for c in columns]
    emb = parts[0] if len(parts) == 1 else F.concat(*parts)
    return df.withColumn(out_col, emb)
