"""Vector column functions.

The reference converts ANN distances with ``similarity = 1 - cosine
distance`` (semhash/index.py:59,66-67,86-87); we compute cosine
similarity directly on ``array<float>`` columns.

``cosine_similarity`` is a vectorized Arrow UDF (numpy batch matmul,
float64; both sides read by ``arrays.list_matrix``). Spark's SQL
higher-order functions (aggregate/zip_with) would evaluate the same
sum INTERPRETED, one lambda call per element, ~100x slower per pair
than a BLAS dot over an Arrow batch. It accumulates in float64,
matching the DuckDB oracle's
``list_cosine_similarity(a::DOUBLE[], b::DOUBLE[])`` to ~1e-12
(summation-order differences only).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType

from semhash_spark.functions.arrays import list_array, list_matrix


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


# DataType object, not a DDL string: string parsing would require an
# active SparkSession at import time
@arrow_udf(DoubleType())
def _cosine(a: pa.Array, b: pa.Array) -> pa.Array:
    xa, na_mask = list_matrix(a)
    xb, nb_mask = list_matrix(b)
    num = np.einsum("ij,ij->i", xa, xb)
    den = np.linalg.norm(xa, axis=1) * np.linalg.norm(xb, axis=1)
    bad = (den <= 0) | na_mask | nb_mask
    out = np.divide(num, den, out=np.zeros_like(num), where=~bad)
    # zero-norm / null input -> NULL (never matches >= t), and so is a
    # NaN score (NaN input)
    return pa.array(out, mask=bad | np.isnan(out))


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    """Cosine similarity of two array<numeric> columns (double).

    Zero-norm or NULL inputs yield NULL (never matches a >= threshold
    predicate), mirroring the reference where a zero vector simply
    has no neighbors above threshold.
    """
    return _cosine(_c(a), _c(b))


def hyperplane_bands(
    a: str | Column,
    bits: int = 64,
    bands: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> Column:
    """Random-hyperplane LSH band keys for an embedding column.

    Charikar (STOC 2002) sign-random-projection: bit i = sign(x · h_i)
    for ``bits`` fixed Gaussian hyperplanes; the bits are split into
    ``bands`` groups and each group packs into one long, salted with
    its band index — ready for ``explode_band_array`` + bucket join.
    P(bit agreement) = 1 - angle(x, y) / pi, so near-cosine pairs
    share band keys with tunable probability. Vectorized: one
    |batch| x bits matmul per Arrow batch. NULL embeddings get an
    EMPTY band array.
    """
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    width = bits // bands
    rng = np.random.Generator(np.random.PCG64(seed))
    h = rng.standard_normal((bits, dim))

    @arrow_udf("array<long>")
    def _bands(v: pa.Array) -> pa.Array:
        n = len(v)
        # NULL embeddings produce an EMPTY band array: posexplode
        # drops the row, so null rows simply generate no candidates
        # (instead of co-bucketing all nulls into one mega-bucket)
        x, null = list_matrix(v)
        out = np.zeros((n, bands), dtype=np.uint64)
        # row-chunk the projection so the |chunk| x bits float64
        # product stays ~64 MB (a 50k-row Arrow batch at 2048 bits
        # would otherwise allocate ~800 MB per worker), and reuse ONE
        # preallocated output: fresh >32 MB buffers come from mmap
        # whose first-touch faults make the gemm 16x slower on this
        # host (see kernels._chunked_threshold)
        step = max(64, int((16 << 20) // (8 * max(bits, 1))))
        hT = np.ascontiguousarray(h[:, : x.shape[1]].T)
        pbuf = np.empty((min(step, n), bits))
        sbuf = np.empty(pbuf.shape, dtype=bool)
        for lo in range(0, n, step):
            hi = min(lo + step, n)
            proj = pbuf[: hi - lo]
            signs = sbuf[: hi - lo]
            np.dot(x[lo:hi], hT, out=proj)
            np.greater(proj, 0, out=signs)
            for b in range(bands):
                chunk = signs[:, b * width : (b + 1) * width]
                word = np.zeros(hi - lo, dtype=np.uint64)
                for j in range(width):
                    word |= chunk[:, j].astype(np.uint64) << np.uint64(j)
                # salt with band index so identical words in different
                # bands never collide after explode
                out[lo:hi, b] = word ^ (np.uint64(b) << np.uint64(56))
        return list_array(out.view(np.int64), null)

    return _bands(_c(a))
