"""Shingle / MinHash / SimHash column functions.

The reference (MinishLab/semhash) embeds whole texts with a static
model and delegates similarity search to an in-memory ANN index
(semhash/index.py:31-48). At 10^12-file scale there is no global
index; instead we compute per-row sketches:

* ``shingle_hashes``: distinct xxhash64 of word k-grams — JVM
  expression (split + xxhash64 per shingle, O(tokens) per row).
* ``minhash_signature``: classic Broder MinHash over the shingle
  hashes via a vectorized Arrow UDF. A SQL higher-order
  formulation was tried first and is ~50x slower: HOF lambdas are
  evaluated INTERPRETED, one call per (shingle, permutation) — the
  numpy batch computes the same num_perm x n_shingles min-reduction
  with two BLAS-level ops per Arrow batch. The permutation family is
  multiply-add over Z/2^64 (``sig[p] = min_s (a_p * s + b_p)`` with
  odd ``a_p``, uint64 wraparound), seeded deterministically.
* ``simhash64``: 64-bit bit-vote fingerprint, same Arrow-UDF
  batching (bit expansion via numpy shifts).

The sketch UDFs read the shingle column with ``arrays.list_segments``: a
NULL shingle array reads as an empty set.

Only candidate RECALL depends on these hash families; every
surviving pair is re-verified with exact Jaccard on the full shingle
sets (operators/verify.py), so results stay engine-exact vs the
DuckDB oracle regardless of family.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from semhash_spark.functions.arrays import list_array, list_segments


def tokens(col: str | Column, pattern: str = r"\s+") -> Column:
    """Non-empty whitespace-separated tokens of a text column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, pattern), lambda t: t != F.lit(""))


def shingle_strings(col: str | Column, k: int) -> Column:
    """Distinct word k-gram shingle strings of a text column.

    Texts shorter than k units produce a single shingle (the whole
    text) so no row ever has an empty shingle set — mirrors the
    reference's behavior of always producing an embedding per record
    (semhash/utils.py:64-84 embeds every record unconditionally).

    Expression-engineering note: the token array is bound via a
    single-element ``transform`` lambda ("let" idiom) so the split is
    evaluated ONCE per row even after Catalyst's CollapseProject
    inlines this expression — never once per shingle.
    """
    name = col if isinstance(col, str) else None
    if name is None:
        raise ValueError("shingle_strings needs a column name (used in SQL expr)")
    # let w = tokens(name) in <shingles over w>, via transform-over-
    # single-element-array binding; w is a lambda var => evaluated once.
    return F.expr(
        f"""
        element_at(transform(array(filter(split({name}, '\\\\s+'), t -> t != '')),
          w -> CASE WHEN size(w) < {k}
             THEN array(concat_ws(' ', w))
             ELSE array_distinct(transform(
                    sequence(1, size(w) - {k} + 1),
                    i -> concat_ws(' ', slice(w, i, {k}))))
          END), 1)
        """
    )


def _word_shingle_hashes(name: str, k: int) -> Column:
    """xxhash64 values of distinct word k-grams, WITHOUT materializing
    shingle strings: hash each token once, then hash each k-tuple of
    token hashes with one xxhash64(th[i], ..., th[i+k-1]) call — no
    per-shingle string slicing/concatenation (which dominated the
    featurize stage: string ops are O(chars) per shingle, this is
    O(k) longs). Collision-equivalent to hashing the joined string:
    whitespace-split tokens cannot contain the joiner, so k-tuple
    identity == joined-string identity.
    """
    tup = ", ".join(f"th[i + {j}]" for j in range(k))
    # size(th) = 0 -> EMPTY set, not array(xxhash64(empty)): a
    # sentinel shingle would make every tokenless document an exact
    # Jaccard-1.0 "near-dup" of every other (and a mega band bucket at
    # scale); the reference's zero-vector featurization matches
    # NOTHING for empty docs, so neither do we. Byte-identical empty
    # docs still collapse in the exact stage.
    return F.expr(
        f"""
        element_at(transform(array(transform(
            filter(split({name}, '\\\\s+'), t -> t != ''), t -> xxhash64(t))),
          th -> CASE WHEN size(th) = 0 THEN array()
             WHEN size(th) < {k}
             THEN array(xxhash64(th))
             ELSE array_distinct(transform(
                    sequence(0, size(th) - {k}),
                    i -> xxhash64({tup})))
          END), 1)
        """
    )


def shingle_hashes(col: str, k: int) -> Column:
    """Distinct word k-gram shingle hashes (array<long>), by the
    token-tuple hashing fast path (never builds shingle strings)."""
    if not isinstance(col, str):
        raise ValueError("shingle_hashes needs a column name")
    return _word_shingle_hashes(col, k)


def shingle_hashes_positional(col: str, k: int) -> Column:
    """POSITIONAL word k-gram shingle hashes — one entry per shingle
    OCCURRENCE, document order preserved, duplicates kept.

    The winnowing anchor stage (operators/containment.py) needs the
    pre-distinct sequence: SIGMOD'03's cross-document guarantee
    ("every shared run of window+k-1 tokens contributes a common
    anchor") holds only when both documents slide their window over
    the same positional subsequence — distinct-collapsing shifts
    window contents wherever a shingle repeated earlier, and the two
    documents can then pick disjoint anchors for the same shared run
    (ADVICE r3). Jaccard/MinHash stages keep using the distinct form.
    """
    if not isinstance(col, str):
        raise ValueError("shingle_hashes_positional needs a column name")
    tup = ", ".join(f"th[i + {j}]" for j in range(k))
    return F.expr(
        f"""
        element_at(transform(array(transform(
            filter(split({col}, '\\\\s+'), t -> t != ''), t -> xxhash64(t))),
          th -> CASE WHEN size(th) = 0 THEN array()
             WHEN size(th) < {k}
             THEN array(xxhash64(th))
             ELSE transform(
                    sequence(0, size(th) - {k}),
                    i -> xxhash64({tup}))
          END), 1)
        """
    )


_LONG_MAX = 9223372036854775807
_MINHASH_SEED = 0x5EED5EED


def _perm_family(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(_MINHASH_SEED))
    a = rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) * 2 + 1  # odd
    b = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    return a, b


# values-per-chunk for the segment kernels: the flat chunk plus one
# scratch buffer stay L2-resident, so the 128-perm / 64-bit passes
# re-read cache instead of DRAM (32 concurrent workers share the
# memory bus — the full-batch variant is bandwidth-bound there)
_CHUNK_VALUES = 1 << 15


def _row_chunks(offs: np.ndarray, n: int):
    """Yield (row_start, row_end) spans whose flat size ~<= _CHUNK_VALUES
    (always at least one row per span)."""
    r0 = 0
    while r0 < n:
        # largest r1 with offs[r1] - offs[r0] <= _CHUNK_VALUES
        r1 = int(np.searchsorted(offs, offs[r0] + _CHUNK_VALUES, side="right")) - 1
        r1 = max(r1, r0 + 1)
        r1 = min(r1, n)
        yield r0, r1
        r0 = r1


def minhash_signature(shingles_col: str | Column, num_perm: int) -> Column:
    """MinHash signature (array<long> of length num_perm).

    ``sig[p] = min over shingle-hashes s of (a_p * s + b_p) mod 2^64``
    — the classic Broder scheme; the distributed stand-in for the
    reference's ANN index build (semhash/index.py:31-48). Vectorized:
    per Arrow batch, cache-chunked multiply-add +
    ``np.minimum.reduceat`` over row segments. Empty or NULL shingle
    arrays yield all-LONG_MAX signatures.

    The UDF deliberately takes ``size(col)`` as a second (ignored)
    argument: referencing the shingles column twice keeps
    CollapseProject from inlining a SQL-lambda shingle expression
    into the UDF argument when a downstream projection drops the
    shingles column — that inline hits Spark 4.1's
    "[INTERNAL_ERROR] Cannot generate code for expression: _sig(...)"
    (python-UDF extraction cannot host NamedLambdaVariables).
    CollapseProject never inlines a non-cheap alias referenced more
    than once, so the lambda stays in its own project and is still
    evaluated exactly once per row. Pass a NAMED column (not an
    inline lambda expression) to get this protection.
    """
    A, B = _perm_family(num_perm)

    @arrow_udf("array<long>")
    def _sig(s: pa.Array, _sz: pa.Array) -> pa.Array:
        n = len(s)
        flat, lens, offs, _ = list_segments(s)
        flat = flat.view(np.uint64)
        out = np.full((n, num_perm), np.uint64(_LONG_MAX), dtype=np.uint64)
        if flat.size:
            # row-chunked so the flat slice + scratch stay L2-resident
            # across the num_perm passes (a full rows x shingles x
            # perms outer product — or even full-batch 1-D passes —
            # is DRAM-bound with 32 concurrent workers)
            hp = np.empty(min(flat.size, _CHUNK_VALUES * 2), dtype=np.uint64)
            for r0, r1 in _row_chunks(offs, n):
                ne = lens[r0:r1] > 0
                if not ne.any():
                    continue
                fc = flat[offs[r0] : offs[r1]]
                starts = (offs[r0:r1][ne] - offs[r0]).astype(np.int64)
                rows = np.arange(r0, r1)[ne]
                if fc.size > hp.size:  # single row larger than a chunk
                    hp = np.empty(fc.size, dtype=np.uint64)
                buf = hp[: fc.size]
                for p in range(num_perm):
                    np.multiply(fc, A[p], out=buf)
                    buf += B[p]  # uint64 wraparound
                    out[rows, p] = np.minimum.reduceat(buf, starts)
        return list_array(out.view(np.int64))

    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    return _sig(c, F.size(c))


def oph_signature(shingles_col: str | Column, num_perm: int) -> Column:
    """One-permutation MinHash signature (array<long>, length num_perm).

    Instead of ``num_perm`` independent multiply-add-min passes (the
    classic Broder scheme in ``minhash_signature``), ONE universal
    re-hash pass bins every shingle hash into ``num_perm`` buckets by
    its top bits and takes the min per bucket (Li, Owen & Zhang,
    "One Permutation Hashing", NIPS 2012). Empty buckets are filled
    by circular borrowing from the nearest populated bucket to the
    right with a per-hop offset (the "densified" variant of
    Shrivastava & Li, ICML 2014) so the collision probability of each
    component stays ~J for sparse sets. O(values) per batch instead
    of O(values * num_perm). Honest wall numbers: ~1.5-2x the k-perm
    kernel at 100-shingle docs / 128 perms (the k-perm reduceat loop
    is already L2-resident), growing with num_perm and document
    density — the scale lever when featurize dominates (it does below
    ~8 cores in the N->4N profile). Downstream is unchanged: band
    hashing / LSH / exact verification are signature-family-agnostic,
    and final clusters depend on signatures only through candidate
    recall (every surviving pair is re-scored exactly), so OPH trades
    a slightly different candidate mix for an order of magnitude less
    sketch compute. Select with ``DedupConfig(minhash_family="oph")``.

    ``num_perm`` must be a power of two (top-bit binning). Empty/NULL
    shingle sets yield all-LONG_MAX signatures, as in the k-perm
    kernel.
    """
    if num_perm & (num_perm - 1) or num_perm <= 0:
        raise ValueError("oph_signature needs a power-of-two num_perm")

    @arrow_udf("array<long>")
    def _sig(s: pa.Array, _sz: pa.Array) -> pa.Array:
        flat, lens, _, _ = list_segments(s)
        out = _oph_pack(flat.view(np.uint64), lens, len(s), num_perm)
        return list_array(out.view(np.int64))

    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    return _sig(c, F.size(c))


# per-hop borrow offset for OPH densification: large odd constant,
# decorrelates a borrowed component from its donor (uint64 wraparound
# is fine)
_OPH_HOP = np.uint64(0x9E3779B97F4A7C15)


def _oph_pack(
    flat: np.ndarray, lens: np.ndarray, n: int, num_perm: int
) -> np.ndarray:
    """Core OPH kernel (module-level so it unit-tests without Spark):
    (flat uint64 values, per-row lens) -> (n, num_perm) uint64
    signature matrix. See ``oph_signature`` for semantics."""
    shift = np.uint64(64 - (int(num_perm).bit_length() - 1))
    A, B = _perm_family(1)
    a0, b0 = np.uint64(A[0]), np.uint64(B[0])
    # empty-bin sentinel must be the uint64 MAX: re-hashed values are
    # uniform over the FULL uint64 range, so a 2^63-1 sentinel would
    # absorb every slot whose true min lies above it (the indexed-min
    # never fires). Collision with a real value needs h == 2^64-1:
    # one in 2^64, and harmlessly re-densified if it ever happens.
    SENT = np.uint64(0xFFFFFFFFFFFFFFFF)
    out = np.full((n, num_perm), SENT, dtype=np.uint64)
    if flat.size:
        h = flat * a0 + b0  # one universal re-hash pass
        bins = (h >> shift).astype(np.int64)
        rows = np.repeat(np.arange(n, dtype=np.int64), lens)
        # indexed min into the flat signature matrix — numpy's
        # ufunc.at fastpath makes this the cheapest group-min by far
        # (measured far faster than lexsort/argsort formulations)
        np.minimum.at(out.ravel(), rows * num_perm + bins, h)
    # densify: for each empty bin borrow from the NEAREST filled bin
    # to the right (circular), value = donor + hops * _OPH_HOP.
    # Vectorized as ONE suffix-min scan over the doubled bin axis
    # (next-filled-index per position), not a log2 roll cascade.
    empty = out == SENT
    any_filled = ~empty.all(axis=1)
    if empty.any() and any_filled.any():
        ne = ~empty
        filled2 = np.concatenate([ne, ne], axis=1)
        # int32 scan (dist < 2*num_perm): ~2x faster than int64 on the
        # (n, 2*num_perm) suffix-min pass, the kernel's heaviest step
        colidx = np.arange(2 * num_perm, dtype=np.int32)
        cand = np.where(filled2, colidx[None, :], np.int32(4 * num_perm))
        nxt = np.minimum.accumulate(cand[:, ::-1], axis=1)[:, ::-1][:, :num_perm]
        dist = (nxt - colidx[None, :num_perm]).astype(np.uint64)
        donor = np.take_along_axis(out, (nxt % num_perm).astype(np.intp), axis=1)
        borrowed = empty & any_filled[:, None]
        out[borrowed] = donor[borrowed] + dist[borrowed] * _OPH_HOP
    # rows with no shingles: all-LONG_MAX, matching the k-perm kernel
    if not any_filled.all():
        out[~any_filled] = np.uint64(_LONG_MAX)
    return out


def simhash64(shingles_col: str | Column) -> Column:
    """64-bit SimHash fingerprint of a shingle-hash array column.

    Bit b of the output is 1 iff strictly more shingle hashes have
    bit b set than unset (unit-weight majority vote). Vectorized:
    per Arrow batch, cache-chunked numpy shifts + segment-sum with
    ``np.add.reduceat``. NULL/empty shingle arrays yield fingerprint
    0. Takes ``size(col)`` as a second ignored argument for the same
    CollapseProject-inline protection as ``minhash_signature``.
    """

    @arrow_udf("long")
    def _sim(s: pa.Array, _sz: pa.Array) -> pa.Array:
        n = len(s)
        flat, lens, offs, _ = list_segments(s)
        flat = flat.view(np.uint64)
        out = np.zeros(n, dtype=np.uint64)
        if flat.size:
            for r0, r1 in _row_chunks(offs, n):  # L2-resident chunks
                ne = lens[r0:r1] > 0
                if not ne.any():
                    continue
                fc = flat[offs[r0] : offs[r1]]
                starts = (offs[r0:r1][ne] - offs[r0]).astype(np.int64)
                ln = lens[r0:r1][ne]
                fp = np.zeros(len(ln), dtype=np.uint64)
                for b in range(64):  # one 1-D pass per bit
                    ones = np.add.reduceat(
                        (fc >> np.uint64(b)) & np.uint64(1), starts
                    )
                    fp |= (2 * ones > ln).astype(np.uint64) << np.uint64(b)
                out[np.arange(r0, r1)[ne]] = fp
        return pa.array(out.view(np.int64))

    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    return _sim(c, F.size(c))


def hamming64(a: str | Column, b: str | Column) -> Column:
    """Hamming distance between two 64-bit fingerprints."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_bands(col: str, n_bands: int) -> Column:
    """Split a 64-bit simhash into n_bands bit-slices (array<long>).

    Two fingerprints with hamming distance <= n_bands - 1 share at
    least one identical band (pigeonhole), so banding generates all
    candidates for small hamming radii.
    """
    width = 64 // n_bands
    mask = (1 << width) - 1
    return F.expr(
        f"transform(sequence(0, {n_bands - 1}), "
        f"b -> shiftrightunsigned({col}, b * {width}) & {mask}L)"
    )
