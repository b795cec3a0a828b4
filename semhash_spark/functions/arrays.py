"""List columns at the Python boundary: Arrow in, numpy, Arrow out.

Every Arrow UDF, ``mapInArrow`` and ``applyInArrow`` kernel reads its
list columns (shingles, signatures, bands, cells, embeddings) through
``list_segments`` / ``list_matrix`` and writes them back through
``list_array``, so the rules live here once:

* values are read with ``flatten()`` and lengths with
  ``value_lengths()``, which honour an array's slice offset and skip
  whatever a NULL slot points at (raw ``.values`` / ``.offsets`` do
  neither);
* a NULL list has a NULL length: it reads as length 0 and is flagged
  in the returned ``null`` mask;
* ``list_matrix`` reads a row of length 0 (NULL or empty) as an
  all-zero row; every other row must have the matrix's width;
* ``list_array`` returns the element type of the numpy matrix, so a
  kernel hands Spark exactly the declared ``array<...>`` type;
* ``record_batch`` builds a kernel's output rows from numpy columns;
  a NaN float becomes NULL, the rule ``cosine_similarity`` applies to
  its scores.

One conversion per batch, no per-row Python objects (*Accelerating
Python UDFs in Vectorized Query Execution*, CIDR 2022).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def list_segments(arr):
    """(flat values, per-row lens int64, offsets int64 of length n + 1,
    null-row mask) of a list array or chunked array. The flat values
    are a read-only numpy view where Arrow allows one."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    lens = arr.value_lengths().fill_null(0).to_numpy(zero_copy_only=False).astype(np.int64)
    offs = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    null = arr.is_null().to_numpy(zero_copy_only=False)
    return flat, lens, offs, null


def list_matrix(arr, dtype=np.float64):
    """(writable ``dtype`` matrix, null-row mask) of a list array whose
    rows share one width. Rows of length 0 (NULL or empty) are
    all-zero; a row of any other length raises ValueError. The cast is
    numpy's, so float32 values upcast exactly as ``np.asarray(v,
    float64)`` does."""
    flat, lens, _, null = list_segments(arr)
    width = int(lens.max()) if len(lens) else 0
    full = lens == width
    if not (full | (lens == 0)).all():
        raise ValueError("list column rows differ in length")
    if full.all():
        return flat.astype(dtype).reshape(len(lens), width), null
    mat = np.zeros((len(lens), width), dtype=dtype)
    mat[full] = flat.reshape(-1, width)
    return mat, null


def list_array(mat: np.ndarray, empty: np.ndarray | None = None) -> pa.ListArray:
    """A list array with one list per row of ``mat`` (its element type
    is ``mat``'s dtype); rows where ``empty`` is set become empty lists."""
    n, width = mat.shape
    lens = np.full(n, width, dtype=np.int32)
    if empty is not None and empty.any():
        lens[empty] = 0
        mat = mat[~empty]
    offs = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offs[1:])
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(mat.ravel()))


def record_batch(cols: dict) -> pa.RecordBatch:
    """A record batch of the numpy columns ``cols`` (name -> array, in
    schema order); NaN floats become NULL."""
    return pa.RecordBatch.from_arrays(
        [pa.array(v, from_pandas=True) for v in cols.values()], names=list(cols))
