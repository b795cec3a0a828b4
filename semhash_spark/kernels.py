"""The numpy kernels the Spark operators feed.

Every UDF body of the engine is a plain vectorized function over numpy
arrays (or one Arrow batch), and Spark only feeds it (*Accelerating
Python UDFs in Vectorized Query Execution*, CIDR 2022): exact set
scoring of candidate pairs, the tiled cosine threshold scan, the exact
top-k, the LSH bucket walk and the longest-common-substring confirm.
The operators in ``operators/`` wrap them in ``mapInArrow`` /
``applyInArrow`` plans, and ``blob.py`` builds the packs they read.

This module imports no pyspark, so each kernel runs and is timed in one
process (``tools/kernel_bench.py``); ``tests/test_kernels.py`` pins
that boundary with a file scan.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from semhash_spark.functions.arrays import list_matrix


def _ramp(lens: np.ndarray) -> np.ndarray:
    """[0..lens[0]-1, 0..lens[1]-1, ...] — per-segment position index."""
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offs = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=offs[1:])
    return np.arange(total, dtype=np.int64) - np.repeat(offs, lens)


def _distinct_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The distinct (a[i], b[i]) pairs, sorted by (a, b)."""
    order = np.lexsort((b, a))
    a, b = a[order], b[order]
    first = np.ones(len(a), dtype=bool)
    np.logical_or(a[1:] != a[:-1], b[1:] != b[:-1], out=first[1:])
    return a[first], b[first]


def _locate_rows(ids_sorted: np.ndarray, perm: np.ndarray, x: np.ndarray):
    """(pack rows, found mask) of the ids ``x`` in an id-keyed pack;
    rows of absent ids are arbitrary and must be masked out."""
    if len(ids_sorted) == 0:
        return np.zeros(len(x), np.int64), np.zeros(len(x), bool)
    p = np.minimum(np.searchsorted(ids_sorted, x), len(ids_sorted) - 1)
    return perm[p], ids_sorted[p] == x


def _lookup_rows(ids_sorted: np.ndarray, perm: np.ndarray, wanted: np.ndarray,
                 side: str) -> np.ndarray:
    """``_locate_rows`` + MEMBERSHIP CHECK: raises instead of silently
    scoring a neighboring record's features when a pair id is absent
    from the feature table (ADVICE r1)."""
    rows, ok = _locate_rows(ids_sorted, perm, wanted)
    if not ok.all():
        raise KeyError(
            f"pair column '{side}' contains ids absent from the feature "
            f"table (sample: {wanted[~ok][:5].tolist()}); every pair id must "
            "exist in feats for the broadcast strategy"
        )
    return rows


# ------------------------------------------------------- set scoring

# padded-matrix budget for _padded_intersections: 8M int64 cells =
# 64 MB scratch per python worker (32 workers -> 2 GB total, bounded
# regardless of how skewed the pair widths are)
_PAIR_CELLS_BUDGET = 1 << 23


def _gather_rows(seg, rows: np.ndarray, l: np.ndarray) -> np.ndarray:
    """Concatenated payload values of ``rows`` (in row order) from the
    sharded pack; ``l`` = lens of those rows. One fancy-indexed load
    per REFERENCED shard (parquet parts are range-ish, scoring
    batches touch few)."""
    flats, row_shard, row_off, _ = seg
    total = int(l.sum())
    out = np.empty(total, dtype=np.int64)
    if total == 0:
        return out
    dest0 = np.zeros(len(rows), dtype=np.int64)
    np.cumsum(l[:-1], out=dest0[1:])
    sh = row_shard[rows]
    for s in np.unique(sh):
        sel = sh == s
        rsel, lsel = rows[sel], l[sel]
        src = np.repeat(row_off[rsel], lsel) + _ramp(lsel)
        dst = np.repeat(dest0[sel], lsel) + _ramp(lsel)
        out[dst] = flats[s][src]
    return out


def _padded_intersections(la: np.ndarray, lb: np.ndarray, gather_a, gather_b) -> np.ndarray:
    """|A ∩ B| per pair of duplicate-free sets of sizes ``la``, ``lb``;
    ``gather_a(sel)`` / ``gather_b(sel)`` return the concatenated values
    of side A / B of the pairs ``sel``, in order.

    Row-wise padded sort: each pair's concatenated values fill one
    row of an (n x wmax) INT64_MAX-padded matrix; ``sort(axis=1)`` is
    one C call, and with duplicate-free sides the intersection is the
    count of adjacent-equal positions inside the row's real length
    (pads excluded by position, so a value colliding with the pad
    stays correct). Pairs are processed in width-sorted blocks under
    ``_PAIR_CELLS_BUDGET`` cells so ONE outlier-wide pair can no
    longer inflate the whole batch's padded matrix (ADVICE r1).
    """
    n = len(la)
    tot = la + lb
    inter = np.zeros(n, dtype=np.int64)
    if n == 0 or int(tot.max()) == 0:
        return inter

    def block(sel):
        ns, las, lbs = len(sel), la[sel], lb[sel]
        w = int((las + lbs).max())
        m = np.full((ns, w), np.iinfo(np.int64).max, dtype=np.int64)
        # for each pair: a's values then b's values into one padded row
        m[np.repeat(np.arange(ns), las), _ramp(las)] = gather_a(sel)
        m[np.repeat(np.arange(ns), lbs), _ramp(lbs) + np.repeat(las, lbs)] = gather_b(sel)
        m.sort(axis=1)
        eq = m[:, 1:] == m[:, :-1]
        valid = np.arange(1, w)[None, :] < (las + lbs)[:, None]
        return (eq & valid).sum(axis=1)

    if n * int(tot.max()) <= _PAIR_CELLS_BUDGET:
        return block(np.arange(n))
    order = np.argsort(tot, kind="stable")
    start = 0
    while start < n:
        width = int(tot[order[start]])
        rows = max(1, _PAIR_CELLS_BUDGET // max(width, 1))
        # widths ascend, so the block max is its LAST row's width;
        # re-derive rows against that to honor the budget
        end = min(start + rows, n)
        width_end = int(tot[order[end - 1]])
        if width_end > width:
            rows = max(1, _PAIR_CELLS_BUDGET // width_end)
            end = min(start + rows, n)
        blk = order[start:end]
        inter[blk] = block(blk)
        start = end
    return inter


def _pair_intersections(
    seg, pos_a: np.ndarray, pos_b: np.ndarray, side_a=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(|A ∩ B|, len_a, len_b) per pair (``_padded_intersections``).
    Side B is the global rows ``pos_b`` of the sharded pack ``seg`` =
    (flats, row_shard, row_off, lens). Side A is rows ``pos_a`` of the
    same pack, or, given ``side_a`` = (flat values, offsets, lens) of a
    batch-local list column (a cross query's own sets), rows ``pos_a``
    of that."""
    lb = np.asarray(seg[3][pos_b])
    if side_a is None:
        la = np.asarray(seg[3][pos_a])

        def gather_a(sel):
            return _gather_rows(seg, pos_a[sel], la[sel])
    else:
        flat, offs, lens = side_a
        la = lens[pos_a]

        def gather_a(sel):
            return flat[np.repeat(offs[pos_a[sel]], la[sel]) + _ramp(la[sel])]

    inter = _padded_intersections(
        la, lb, gather_a, lambda sel: _gather_rows(seg, pos_b[sel], lb[sel]))
    return inter, la, lb


def score_set_pairs(
    pack, a: np.ndarray, b: np.ndarray, threshold: float | None,
    metric: str = "jaccard", left: str = "a", right: str = "b",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Exact float64 set scores of the pairs (a[i], b[i]) against a
    ``blob.load_feats_segments`` pack: (a, b, score) of the pairs
    scoring >= ``threshold`` (every pair when it is None).

    ``metric`` "jaccard" scores |A∩B| / |A∪B| after the exact-safe size
    prune J >= t  =>  min >= t * max (|A∩B| <= min, |A∪B| >= max),
    which kills e.g. the boilerplate-vs-full-file band collisions
    before any gather work; "containment" scores |A∩B| / min(|A|,|B|)
    with no prune (the smaller side can be fully contained at any
    size skew). Empty sets score 0.0, like the JVM join forms — the
    same integer counts and float64 division, so the scores are
    bit-identical to theirs."""
    ids, perm, row_shard, row_off, row_len, flats = pack
    pos_a = _lookup_rows(ids, perm, a, left)
    pos_b = _lookup_rows(ids, perm, b, right)
    is_jaccard = metric == "jaccard"
    if threshold is not None and is_jaccard:
        la0 = np.asarray(row_len[pos_a])
        lb0 = np.asarray(row_len[pos_b])
        keep = np.minimum(la0, lb0) >= threshold * np.maximum(la0, lb0)
        if not keep.all():
            a, b = a[keep], b[keep]
            pos_a, pos_b = pos_a[keep], pos_b[keep]
    inter, la, lb = _pair_intersections((flats, row_shard, row_off, row_len), pos_a, pos_b)
    denom = la + lb - inter if is_jaccard else np.minimum(la, lb)
    s = np.divide(
        inter.astype(np.float64), denom, out=np.zeros(len(a)), where=denom > 0
    )
    if threshold is not None:
        hit = s >= threshold
        a, b, s = a[hit], b[hit], s[hit]
    return a, b, s


# ------------------------------------------------- embedding rows


def _normalize_rows(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Divide each row of the float64 matrix ``x`` by its L2 norm, in
    place; a row of norm 0 is all zero and stays so. Returns (``x``,
    the row norms)."""
    nr = np.linalg.norm(x, axis=1, keepdims=True)
    np.divide(x, nr, out=x, where=nr > 0)
    return x, nr.ravel()


def normalized_batch(batch: pa.RecordBatch, id_col: str, emb_col: str):
    """(ids, row-normalized float64 matrix, zero-norm mask) of one
    Arrow batch of (id, embedding) rows, NULL embeddings dropped; None
    when nothing is left. Zero-norm rows stay all-zero."""
    q, null = list_matrix(batch[emb_col])
    ids = batch[id_col].to_numpy().astype(np.int64, copy=False)
    if null.any():  # NULL embeddings never pair or rank
        q, ids = q[~null], ids[~null]
    if len(ids) == 0:
        return None
    qm, qn = _normalize_rows(q)
    return ids, qm, qn <= 0


# ------------------------------------------------ fused threshold scan

# fused-scan block geometry: the f32 index matrix is packed as
# (n_blocks, dim, _BLK_W) column blocks so each sgemm B operand is a
# ~2 MB C-contiguous tile that stays cache-resident across the row
# chunks of a batch, and the score/mask buffers are (row_step x
# _BLK_W) reused tiles instead of (rows x n) full-width strips. The
# round-5 full-width kernel streamed the whole 50 MB B matrix + wrote
# 3 full-width bool/score passes per 41-row chunk — measured 13-15 s
# per worker under 32-way concurrency at 100k x 100k; the tiled form
# measures ~3.5-5 s for the same partition (tools/ microbench, round
# 6), identical output.
_BLK_W = 4096
_SCAN_ROW_STEP = 512


def _new_blocks(n: int, dim: int) -> np.ndarray:
    """Zeroed (n_blocks, dim, _BLK_W) float32 tiles for ``n`` rows."""
    return np.zeros((max(1, (n + _BLK_W - 1) // _BLK_W), dim, _BLK_W), dtype=np.float32)


def _fill_blocks(blocks: np.ndarray, matn: np.ndarray, r0: int) -> None:
    """Write the rows of ``matn`` (normalized f64, global rows ``r0``
    on) into their columns of the f32 tiles ``blocks``."""
    mT = matn.T.astype(np.float32)
    c0, end = r0, r0 + len(matn)
    while c0 < end:
        b = c0 // _BLK_W
        w = min((b + 1) * _BLK_W, end) - c0
        blocks[b][:, c0 - b * _BLK_W : c0 - b * _BLK_W + w] = mT[:, c0 - r0 : c0 - r0 + w]
        c0 += w


def _build_blocks(matn: np.ndarray) -> np.ndarray:
    """(n_blocks, dim, _BLK_W) float32 zero-padded column blocks of a
    row-major (n, dim) float64 normalized matrix — the fused scan's
    gemm B operand tiles, ``matn.T.astype(float32)`` split by columns.
    Padding columns are all-zero (they can only pass a thr <= 0 scan
    and are dropped by the kernel's explicit width mask)."""
    blk = _new_blocks(*matn.shape)
    _fill_blocks(blk, matn, 0)
    return blk


_F32_MARGIN = 1e-5


# max survivors rescored per float64 einsum slice: bounds the two
# (hits x dim) fancy-index copies at ~67 MB each at 128 dims
_RESCORE_HITS = 1 << 16


def _chunked_threshold(q_ids, qm, qz, ids_i, matn, blocks, nz_i, thr, max_k,
                       self_mode, row_step=_SCAN_ROW_STEP):
    """Tiled threshold gemm for the fused kernels, over
    PRE-NORMALIZED rows on both sides (``blob.load_feats_rows(ref,
    "scan")``; callers normalize the query batch in place). ``blocks``
    is the (n_blocks, dim, _BLK_W) f32 tile pack (``_build_blocks``).

    Round-5 history (kept because the same pathologies shape this
    form): the one-shot kernel materialized the FULL |batch| x
    |index| f64 similarity matrix per worker (page-fault/TLB storm,
    ``git show b871efc:bench_r5_try2.log``); the row-chunked
    full-width kernel fixed that but still streamed the whole 50 MB B
    operand per 41-row chunk and wrote 3 full-width bool/score passes
    per chunk — measured 13-15 s per worker at 100k x 100k under
    32-way concurrency, nearly all
    memory-bus time. Round 6 re-tiled it: per row chunk (~512 rows),
    each ~2 MB B tile is one sgemm into a reused (row_step x _BLK_W)
    score tile that stays cache-resident through its threshold mask
    and nonzero — the full-width score matrix never exists, B traffic
    drops ~12x, and the same partition measures 3.5-5 s (identical
    output; tools/ microbench, round 6).

    Self-mode column skip: when ``ids_i`` is strictly ascending
    (parquet part order from the range-partitioned feature write —
    verified per batch, not assumed), every column with id <= the
    chunk's min query id is provably masked by ``q_id < id_i``, so
    whole tiles below that bound are skipped — on average half the
    scan. The residual per-pair ``q_id < id_i`` filter runs on the
    HITS only (a few per thousand cells), replacing the round-5
    full-width comparison matrix.

    Zero-norm rows are all-zero after normalization, so they score
    exactly 0.0 and any thr > 0 excludes them for free; thr <= 0
    masks them explicitly (NULL-cosine semantics). Yields
    (global_row_idx, col_idx, scores) per chunk; per-row max_k
    capping is chunk-local because the cap is per ROW and every chunk
    holds whole rows.

    The scan itself runs in float32 (half the bandwidth, 2x sgemm)
    against ``thr - _F32_MARGIN``; every surviving pair is re-scored
    in float64, so the EMITTED edge set and scores are exactly the
    float64 ones. The margin (1e-5) dominates the float32 dot's worst
    error (~sqrt(dim) * 2^-24 ~ 1e-6 for unit rows), so no true pair
    is lost. Before the f64 rescore, oversized rows (> max_k f32
    hits) are pre-filtered to the candidates that can still reach the
    f64 top-max_k: any hit whose f32 score is more than 2*margin
    below the row's max_k-th largest f32 score is beaten by >= max_k
    candidates in f64 with strict inequality (|s32 - s64| < margin on
    both sides), so it can neither make the cap nor tie at its
    boundary — dropping it is exact. This cuts the mega-clique
    rescore from O(clique^2) gathers to O(clique * max_k).
    """
    n_idx = len(ids_i)
    if n_idx == 0 or len(q_ids) == 0:
        return
    n_blocks = blocks.shape[0]
    qm32 = qm.astype(np.float32)
    ids_sorted = self_mode and (n_idx == 1 or bool((np.diff(ids_i) > 0).all()))
    thr32 = np.float32(thr - _F32_MARGIN)
    band32 = np.float32(2 * _F32_MARGIN)
    # reused score/mask tiles (fresh big outputs pay the first-touch
    # fault storm — see round-5 notes above)
    obuf = np.empty(row_step * _BLK_W, dtype=np.float32)
    mbuf = np.empty(row_step * _BLK_W, dtype=bool)
    for lo in range(0, len(q_ids), row_step):
        hi = min(lo + row_step, len(q_ids))
        rows = hi - lo
        b0 = 0
        if ids_sorted:
            j0 = int(np.searchsorted(ids_i, int(q_ids[lo:hi].min()), side="right"))
            b0 = j0 // _BLK_W
        q32c = qm32[lo:hi]
        hr: list = []
        hc: list = []
        hs: list = []
        for b in range(b0, n_blocks):
            w = min(_BLK_W, n_idx - b * _BLK_W)
            out = obuf[: rows * _BLK_W].reshape(rows, _BLK_W)
            np.dot(q32c, blocks[b], out=out)
            mask = mbuf[: rows * _BLK_W].reshape(rows, _BLK_W)
            np.greater_equal(out, thr32, out=mask)
            if w < _BLK_W:
                mask[:, w:] = False  # zero-padded tail columns
            if thr <= 0:
                # normalized zero-norm rows score 0.0, which a
                # non-positive threshold would wrongly admit
                mask[:, :w] &= nz_i[b * _BLK_W : b * _BLK_W + w][None, :]
                mask[qz[lo:hi]] = False
            rl, cl = np.nonzero(mask)
            if len(rl) == 0:
                continue
            cg = cl + b * _BLK_W
            if self_mode:
                keep = q_ids[lo + rl] < ids_i[cg]
                if not keep.all():
                    rl, cl, cg = rl[keep], cl[keep], cg[keep]
                    if len(rl) == 0:
                        continue
            hr.append(rl)
            hc.append(cg)
            hs.append(out[rl, cl])
        if not hr:
            continue
        r = np.concatenate(hr)
        c = np.concatenate(hc)
        s32 = np.concatenate(hs)
        if len(hr) > 1:
            # restore global row-major hit order across tiles (the
            # cap slices rows out of a grouped-ascending r)
            order = np.lexsort((c, r))
            r, c, s32 = r[order], c[order], s32[order]
        if max_k is not None:
            counts = np.bincount(r, minlength=rows)
            if (counts > max_k).any():
                keep = np.ones(len(r), dtype=bool)
                starts = np.concatenate(([0], np.cumsum(counts)))
                for ri in np.flatnonzero(counts > max_k):
                    sl = slice(starts[ri], starts[ri + 1])
                    srow = s32[sl]
                    kth = np.partition(srow, len(srow) - max_k)[len(srow) - max_k]
                    keep[sl] = srow >= kth - band32
                if not keep.all():
                    r, c = r[keep], c[keep]
        # exact float64 rescore of the scan's survivors only — in
        # bounded slices: a mega-clique chunk (planted boilerplate,
        # every pair >= thr) surfaces many survivors at once, and a
        # one-shot fancy-index rescore materializes TWO (hits x dim)
        # float64 copies: ~8 GB/worker at 4M hits x 128 dims, which is
        # what globally OOM'd the 1M IVF flagship (14 workers at
        # 7.6 GB RSS each, git show b871efc:flagship_r5_1m_ivf2.log).
        # Slicing keeps the peak at ~2 x slice x dim x 8 bytes
        # (~134 MB) with identical survivors, scores, and cap order.
        if len(r) <= _RESCORE_HITS:
            s = np.einsum("ij,ij->i", qm[lo + r], matn[c])
            keep = s >= thr
            r, c, s = r[keep], c[keep], s[keep]
        else:
            parts = []
            for slo in range(0, len(r), _RESCORE_HITS):
                rs = r[slo:slo + _RESCORE_HITS]
                cs = c[slo:slo + _RESCORE_HITS]
                ss = np.einsum("ij,ij->i", qm[lo + rs], matn[cs])
                keep = ss >= thr
                parts.append((rs[keep], cs[keep], ss[keep]))
            r = np.concatenate([p[0] for p in parts])
            c = np.concatenate([p[1] for p in parts])
            s = np.concatenate([p[2] for p in parts])
        if max_k is not None and len(r):
            r, c, s = _cap_rows_sparse(r, c, s, ids_i, max_k)
        if len(r):
            yield r + lo, c, s


def _cap_rows_sparse(r, c, s, ids_i, max_k):
    """Per-row top-``max_k`` neighbor cap (reference ``max_k=100``,
    semhash/index.py:59) on sparse (row, col, score) triplets
    (r non-decreasing — np.nonzero row-major order): oversized rows
    keep the ``max_k`` highest-score neighbors, ties broken by
    ascending neighbor id. Only oversized rows pay the python loop —
    these are exactly the mega-cluster members whose uncapped edge
    emission is quadratic (a 8k-member boilerplate cluster emits 32M
    edges uncapped; 0.8M capped). For a COMPLETE >=θ sub-cluster the
    capped a<b graph stays connected (every non-max member keeps >=1
    upward edge), so min-id connected components are unchanged; only
    dense-but-incomplete clusters wider than max_k can differ — the
    same truncation the reference's ANN cap applies (SURVEY §2.4 J2).
    """
    counts = np.bincount(r)
    if (counts <= max_k).all():
        return r, c, s
    keep = np.ones(len(r), dtype=bool)
    starts = np.concatenate(([0], np.cumsum(counts)))
    for ri in np.flatnonzero(counts > max_k):
        sl = slice(starts[ri], starts[ri + 1])
        order = np.lexsort((ids_i[c[sl]], -s[sl]))
        kmask = np.zeros(int(counts[ri]), dtype=bool)
        kmask[order[:max_k]] = True
        keep[sl] = kmask
    return r[keep], c[keep], s[keep]


# ------------------------------------------------------------ top-k


def _topk_buffers(n_idx: int, exclude_self: bool):
    """Reused per-partition work buffers of ``_topk_chunks``: the
    |chunk| x |index| score block (row chunks sized to keep it ~16 MB)
    and, when self matches are excluded, its id-equality mask. A fresh
    64 MB gemm output per chunk measured 16x slower (mmap first-touch
    faults + THP compaction; see ``_chunked_threshold``)."""
    step = max(16, int((16 << 20) // (8 * max(n_idx, 1))))
    buf = np.empty((step, max(n_idx, 1)))
    return buf, (np.empty(buf.shape, dtype=bool) if exclude_self else None)


def _topk_chunks(q_ids, qm, qz, ids_i, mnT, zn, k, exclude_self, bufs):
    """Exact top-k of one normalized query batch (``normalized_batch``)
    against the normalized TRANSPOSED index
    (``blob.load_feats_rows(ref, "topk")``), in row chunks.

    Yields ``(lo, hi, sorted_i, sorted_s, valid, counts)`` per chunk
    with any ranked neighbor: each row's candidates ordered by (score
    desc, index id asc), ``valid`` marking real neighbors (a prefix of
    each row; zero-norm sides and excluded self matches never rank)
    and ``counts`` their number per row."""
    n_idx = len(ids_i)
    if n_idx == 0:
        return
    buf, ebuf = bufs
    step = buf.shape[0]
    kk = min(k, n_idx)
    for lo in range(0, len(q_ids), step):
        hi = min(lo + step, len(q_ids))
        scores = buf[: hi - lo]
        np.dot(qm[lo:hi], mnT, out=scores)
        # zero-norm on either side -> NULL semantically: exclude
        scores[:, zn] = -np.inf
        scores[qz[lo:hi], :] = -np.inf
        if exclude_self:
            sm = ebuf[: hi - lo]
            np.equal(q_ids[lo:hi, None], ids_i[None, :], out=sm)
            scores[sm] = -np.inf
        if kk < n_idx:
            part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
        else:
            part = np.broadcast_to(np.arange(n_idx), scores.shape).copy()
        ps = np.take_along_axis(scores, part, axis=1)
        pid = ids_i[part]
        # per-row (score desc, id asc) lexsort along the last axis
        order = np.lexsort((pid, -ps), axis=1)
        sorted_s = np.take_along_axis(ps, order, axis=1)
        sorted_i = np.take_along_axis(pid, order, axis=1)
        valid = sorted_s > -np.inf
        counts = valid.sum(axis=1)
        if counts.sum():
            yield lo, hi, sorted_i, sorted_s, valid, counts


def _topk_avgs(q_ids, sorted_s, valid, counts):
    """(query ids, mean top-k score) of the rows of one ``_topk_chunks``
    chunk that ranked anything. The scores are summed one rank at a
    time from 0.0 and the sum divided by the count: the arithmetic of
    Spark's ``avg`` over the kernel's rows, which arrive in rank order
    within one task, so the result equals
    ``groupBy("query_id").agg(avg("score"))`` bit for bit."""
    acc = np.zeros(len(sorted_s))
    for j in range(sorted_s.shape[1]):
        acc += np.where(valid[:, j], sorted_s[:, j], 0.0)
    has = counts > 0
    return q_ids[has], acc[has] / counts[has]


# ------------------------------------------------------ LSH buckets


def _bucket_walk(batches, cap: int):
    """Each bucket's pairs as (a, b) int64 arrays (one yield per input
    batch that completes pairs), from Arrow record batches of
    (band_idx, band_hash, _id) sorted by (bucket key, id).

    All-pairs for buckets <= ``cap`` members, star edges (min-id ->
    member) above it. Memory is bounded by construction: ids arrive
    ascending within a bucket, so a bucket is buffered only up to
    ``cap`` ids — the moment it overflows, the buffer flushes as star
    edges (the first id IS the bucket min) and the rest of the bucket
    streams through without being held, however large it is (a
    10^9-member boilerplate bucket costs one task O(cap) memory). A
    bucket open at a batch boundary is carried into the next batch.
    """
    carry_key = None  # bucket key open at the last batch boundary
    carry_ids = None  # buffered ids of the open bucket (<= cap)
    star_min = None   # not None => the open bucket overflowed cap

    def bucket_pairs(ids_seg):
        """(a, b) arrays for ONE completed bucket (ascending ids)."""
        k = len(ids_seg)
        if k < 2:
            return None
        if k > cap:
            return np.repeat(ids_seg[0], k - 1), ids_seg[1:]
        rep = np.arange(k, dtype=np.int64)
        b = np.repeat(ids_seg, rep)
        a = ids_seg[_ramp(rep)]
        return a, b

    def col(rb, name):
        return rb.column(name).to_numpy(zero_copy_only=False)

    for rb in batches:
        n = rb.num_rows
        if n == 0:
            continue
        bi = col(rb, "band_idx")
        bh = col(rb, "band_hash")
        ids = col(rb, "_id").astype(np.int64, copy=False)
        new_seg = np.empty(n, dtype=bool)
        new_seg[0] = True
        np.logical_or(bi[1:] != bi[:-1], bh[1:] != bh[:-1], out=new_seg[1:])
        seg_starts = np.flatnonzero(new_seg)
        n_seg = len(seg_starts)
        seg_ends = np.append(seg_starts[1:], n)
        out_a: list = []
        out_b: list = []
        s_first = 0
        first_key = (bi[0], bh[0])
        if carry_key is not None:
            if first_key == carry_key:
                seg0 = ids[: seg_ends[0]]
                open_at_end = n_seg == 1
                if star_min is not None:
                    out_a.append(np.repeat(star_min, len(seg0)))
                    out_b.append(seg0)
                else:
                    merged = np.concatenate([carry_ids, seg0])
                    if open_at_end and len(merged) <= cap:
                        carry_ids = merged
                        if out_a:
                            yield np.concatenate(out_a), np.concatenate(out_b)
                        continue
                    if len(merged) > cap:
                        # overflow: flush as star NOW (first id is
                        # the bucket min under the ascending sort)
                        # and stream the rest without buffering
                        star_min = merged[0]
                        out_a.append(np.repeat(star_min, len(merged) - 1))
                        out_b.append(merged[1:])
                        carry_ids = None
                        if open_at_end:
                            if out_a:
                                yield np.concatenate(out_a), np.concatenate(out_b)
                            continue
                    else:
                        p = bucket_pairs(merged)
                        if p is not None:
                            out_a.append(p[0])
                            out_b.append(p[1])
                if not open_at_end:
                    carry_key = None
                    carry_ids = None
                    star_min = None
                    s_first = 1
                else:
                    if out_a:
                        yield np.concatenate(out_a), np.concatenate(out_b)
                    continue
            else:
                # the carried bucket closed at the batch boundary
                if star_min is None and carry_ids is not None:
                    p = bucket_pairs(carry_ids)
                    if p is not None:
                        out_a.append(p[0])
                        out_b.append(p[1])
                carry_key = None
                carry_ids = None
                star_min = None

        # segments [s_first, n_seg - 1) are complete: vectorized
        # pair emission across all of them at once
        if n_seg - 1 > s_first:
            seg_len = seg_ends - seg_starts
            seg_id = np.cumsum(new_seg) - 1
            complete = np.zeros(n_seg, dtype=bool)
            complete[s_first : n_seg - 1] = True
            small = complete & (seg_len >= 2) & (seg_len <= cap)
            big = complete & (seg_len > cap)
            f_elem = seg_starts[seg_id]
            local = np.arange(n, dtype=np.int64) - f_elem
            if small.any():
                sel = small[seg_id]
                rep = local[sel]
                b_s = np.repeat(ids[sel], rep)
                base = np.repeat(f_elem[sel], rep)
                a_s = ids[base + _ramp(rep)]
                out_a.append(a_s)
                out_b.append(b_s)
            if big.any():
                m = big[seg_id] & (local > 0)
                out_a.append(ids[f_elem[m]])
                out_b.append(ids[m])

        # the batch's last segment becomes (or stays) the carry
        last = ids[seg_starts[-1] :]
        carry_key = (bi[-1], bh[-1])
        if len(last) > cap:
            star_min = last[0]
            out_a.append(np.repeat(star_min, len(last) - 1))
            out_b.append(last[1:])
            carry_ids = None
        else:
            star_min = None
            carry_ids = last.copy()
        if out_a:
            yield np.concatenate(out_a), np.concatenate(out_b)

    if carry_key is not None and star_min is None and carry_ids is not None:
        p = bucket_pairs(carry_ids)
        if p is not None:
            yield p


# ------------------------------------------- longest common substring


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
