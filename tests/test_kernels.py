"""The numpy kernels of ``semhash_spark/kernels.py``, run in-process
with no Spark session: the set-intersection scorer, the tiled cosine
threshold scan, and the longest-common-substring kernel. The first test
pins the module's boundary by a file scan: importing the module cannot
be the check, since the package ``__init__`` imports pyspark."""

from __future__ import annotations

import ast
import pathlib
import random
import sys

import numpy as np

from semhash_spark import kernels as K

KERNELS = pathlib.Path(__file__).resolve().parent.parent / "semhash_spark" / "kernels.py"
ALLOWED = {"numpy", "pyarrow", "semhash_spark.functions.arrays"}


def _foreign_imports(source: str) -> list[str]:
    """Every import of ``source``, top-level or inside a function,
    that is not numpy, pyarrow, the standard library or
    ``semhash_spark.functions.arrays``."""
    out = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            names = ["." * node.level + (node.module or "")]
        else:
            continue
        for name in names:
            root = name.split(".")[0]
            if name in ALLOWED or root in ALLOWED or (
                    root in sys.stdlib_module_names or root == "__future__"):
                continue
            out.append(f"{node.lineno}: {name}")
    return out


def test_kernels_import_no_engine():
    source = KERNELS.read_text()
    assert "import numpy" in source  # the scan reads the real module
    assert _foreign_imports(source) == []
    # the check itself catches a Spark import at either level, and a
    # relative one
    bad = ("from pyspark.sql import DataFrame\n"
           "def f():\n    import semhash_spark.blob\n"
           "from . import blob\n")
    assert len(_foreign_imports(bad)) == 3


# ------------------------------------------------- set intersections


def test_pair_intersections_sharded_kernel_matches_sets():
    """The sharded padded-sort intersection must equal python set
    intersection for random multi-shard layouts, including empty rows
    and wide outliers."""
    rng = random.Random(99)
    for trial in range(10):
        n_shards = rng.randint(1, 4)
        rows = []          # list of value-lists, global row order
        flats, row_shard, row_off, row_len = [], [], [], []
        for s in range(n_shards):
            vals = []
            for _ in range(rng.randint(0, 8)):
                w = rng.choice([0, 1, 3, 7, 50])
                r = rng.sample(range(-100, 100), w)
                row_shard.append(s)
                row_off.append(len(vals))
                row_len.append(w)
                vals.extend(r)
                rows.append(r)
            flats.append(np.asarray(vals, dtype=np.int64))
        n = len(rows)
        if n < 2:
            continue
        seg = (flats, np.asarray(row_shard), np.asarray(row_off),
               np.asarray(row_len, dtype=np.int64))
        pos_a = np.asarray([rng.randrange(n) for _ in range(30)])
        pos_b = np.asarray([rng.randrange(n) for _ in range(30)])
        inter, la, lb = K._pair_intersections(seg, pos_a, pos_b)
        for k in range(30):
            expect = len(set(rows[pos_a[k]]) & set(rows[pos_b[k]]))
            assert inter[k] == expect, (trial, k)
            assert la[k] == len(rows[pos_a[k]]) and lb[k] == len(rows[pos_b[k]])


def test_pair_intersections_batch_local_side_a():
    """Side A read from a batch-local list column (a cross query's own
    sets) gives the counts of side A read from the pack."""
    rng = random.Random(5)
    rows = [rng.sample(range(-60, 60), rng.choice([0, 2, 9, 40])) for _ in range(25)]
    lens = np.asarray([len(r) for r in rows], dtype=np.int64)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    flat = np.asarray([v for r in rows for v in r], dtype=np.int64)
    seg = ([flat], np.zeros(len(rows), dtype=np.int64), offs, lens)
    pos_a = np.asarray([rng.randrange(len(rows)) for _ in range(60)])
    pos_b = np.asarray([rng.randrange(len(rows)) for _ in range(60)])
    packed = K._pair_intersections(seg, pos_a, pos_b)
    local = K._pair_intersections(seg, pos_a, pos_b, side_a=(flat, offs, lens))
    for x, y in zip(local, packed):
        assert np.array_equal(x, y)
    assert packed[0].tolist() == [
        len(set(rows[a]) & set(rows[b])) for a, b in zip(pos_a, pos_b)]


def test_pair_intersections_blocking_respects_budget(monkeypatch):
    """Width-sorted blocking must stay correct when the cells budget
    forces many tiny blocks (one mega-wide outlier pair)."""
    big = list(range(3000))
    rows = [big, list(range(1500)), [1, 2, 3], [2, 3, 4], []]
    flat = np.asarray([v for r in rows for v in r], dtype=np.int64)
    offs, lens = [], []
    off = 0
    for r in rows:
        offs.append(off); lens.append(len(r)); off += len(r)
    seg = ([flat], np.zeros(len(rows), dtype=np.int64),
           np.asarray(offs), np.asarray(lens, dtype=np.int64))
    monkeypatch.setattr(K, "_PAIR_CELLS_BUDGET", 4096)
    pos_a = np.asarray([0, 0, 2, 4])
    pos_b = np.asarray([1, 2, 3, 0])
    inter, la, lb = K._pair_intersections(seg, pos_a, pos_b)
    assert inter.tolist() == [1500, 3, 2, 0]


# ------------------------------------------------ fused threshold scan


def test_chunked_threshold_kernel_edges():
    """Unit coverage of the round-5 f32-scan/f64-rescore kernel:
    zero-norm exclusion at thr<=0 (normalized zero rows score exactly
    0.0, which a non-positive threshold would wrongly admit), exact
    f64 emission, and the sparse per-row max_k cap."""
    rng = np.random.default_rng(7)
    matn = rng.standard_normal((50, 16))
    matn[3] = 0.0  # zero-norm row
    nrm = np.linalg.norm(matn, axis=1, keepdims=True)
    matn = np.divide(matn, nrm, out=matn, where=nrm > 0)
    nz = nrm.ravel() > 0
    ids = np.arange(50, dtype=np.int64)
    m32 = K._build_blocks(matn)

    # thr <= 0: every non-zero-norm ordered pair passes; none touch
    # the zero-norm row on either side
    got = [
        (int(a), int(b))
        for r, c, s in K._chunked_threshold(
            ids, matn, ~nz, ids, matn, m32, nz, -1.0, None, self_mode=True)
        for a, b in zip(ids[r], ids[c])
    ]
    want = [(a, b) for a in range(50) for b in range(50)
            if a < b and a != 3 and b != 3]
    assert sorted(got) == want

    # emitted scores are the exact float64 dot of the normalized rows
    for r, c, s in K._chunked_threshold(
            ids, matn, ~nz, ids, matn, m32, nz, 0.2, None, self_mode=True):
        expect = np.einsum("ij,ij->i", matn[r], matn[c])
        assert np.array_equal(s, expect)
        assert (s >= 0.2).all()

    # sparse cap: row 0 has 5 hits, cap 2 keeps the 2 best by
    # (score desc, id asc)
    r = np.array([0, 0, 0, 0, 0, 1])
    c = np.array([1, 2, 3, 4, 5, 6])
    s = np.array([0.9, 0.95, 0.9, 0.8, 0.99, 0.5])
    ids_i = np.arange(10, dtype=np.int64)
    rr, cc, ss = K._cap_rows_sparse(r, c, s, ids_i, 2)
    # keep-mask filter preserves triplet order; the KEPT SET is the
    # top-2 by (score desc, id asc) plus the under-cap row
    assert sorted(zip(rr.tolist(), cc.tolist())) == [(0, 2), (0, 5), (1, 6)]


def test_rescore_slicing_is_output_invariant(monkeypatch):
    """The bounded-slice f64 rescore (the 1M-IVF OOM fix: a
    mega-clique chunk surfaces step*n_idx survivors at once and the
    one-shot fancy-index rescore held two (hits x dim) f64 copies
    ~8 GB/worker) must emit bit-identical (r, c, s) triplets to the
    one-shot path at any slice size."""
    rng = np.random.default_rng(11)
    matn = rng.standard_normal((80, 16))
    nrm = np.linalg.norm(matn, axis=1, keepdims=True)
    matn = np.divide(matn, nrm, out=matn, where=nrm > 0)
    nz = nrm.ravel() > 0
    ids = np.arange(80, dtype=np.int64)
    m32 = K._build_blocks(matn)

    def run():
        out = [
            (r.copy(), c.copy(), s.copy())
            for r, c, s in K._chunked_threshold(
                ids, matn, ~nz, ids, matn, m32, nz, -1.0, 7,
                self_mode=True)
        ]
        r = np.concatenate([o[0] for o in out])
        c = np.concatenate([o[1] for o in out])
        s = np.concatenate([o[2] for o in out])
        return r, c, s

    r0, c0, s0 = run()  # default _RESCORE_HITS: one-shot path
    assert len(r0) > 500  # the all-pairs thr=-1 clique, capped at 7/row
    for slice_hits in (1, 37, 100):
        monkeypatch.setattr(K, "_RESCORE_HITS", slice_hits)
        r1, c1, s1 = run()
        assert np.array_equal(r0, r1)
        assert np.array_equal(c0, c1)
        assert np.array_equal(s0, s1)


# The round-6 re-tiling (blocked f32 gemm + sorted-id tile skip + f32
# prefilter before the f64 rescore) against a brute-force f64 reference:
# the emitted edge set, the bit-exact f64 scores and the per-row cap
# must be IDENTICAL for every code path the kernel has — multi-tile
# inputs, unsorted index ids (skip disabled), oversized rows (prefilter
# active), cross mode, and thr <= 0 zero-norm masking.


def _mk(n, dim, seed, clique=0, zero_rows=()):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, dim))
    if clique:
        base = rng.standard_normal(dim)
        m[:clique] = base + 0.03 * rng.standard_normal((clique, dim))
    for z in zero_rows:
        m[z] = 0.0
    nrm = np.linalg.norm(m, axis=1, keepdims=True)
    matn = np.divide(m, nrm, out=np.zeros_like(m), where=nrm > 0)
    return matn, nrm.ravel() > 0


def _brute(q_ids, qm, qz, ids_i, matn, nz_i, thr, max_k, self_mode):
    """Naive f64 reference: all pairs scored with the SAME einsum op
    the kernel's rescore uses (a dgemm sums in a different order and
    can differ in the last ulp), threshold, per-row cap by
    (score desc, id asc)."""
    out = []
    nj = len(ids_i)
    for i in range(len(q_ids)):
        if thr <= 0 and qz[i]:
            continue
        s_row = np.einsum(
            "ij,ij->i", np.broadcast_to(qm[i], (nj, qm.shape[1])), matn
        )
        cand = []
        for j in range(nj):
            if self_mode and not q_ids[i] < ids_i[j]:
                continue
            if thr <= 0 and not nz_i[j]:
                continue
            if s_row[j] >= thr:
                cand.append((j, s_row[j]))
        if max_k is not None and len(cand) > max_k:
            cand.sort(key=lambda t: (-t[1], ids_i[t[0]]))
            cand = cand[:max_k]
        for j, sc in cand:
            out.append((int(q_ids[i]), int(ids_i[j]), float(sc)))
    return sorted(out)


def _run(q_ids, qm, qz, ids_i, matn, nz_i, thr, max_k, self_mode,
         row_step=64):
    blocks = K._build_blocks(matn)
    got = []
    for r, c, s in K._chunked_threshold(
            q_ids, qm, qz, ids_i, matn, blocks, nz_i, thr, max_k,
            self_mode=self_mode, row_step=row_step):
        got.extend(zip(q_ids[r].tolist(), ids_i[c].tolist(), s.tolist()))
    return sorted(got)


def test_tiled_kernel_matches_bruteforce_multitile():
    """> _BLK_W index rows => multiple tiles, including a padded tail."""
    n = K._BLK_W + 700
    matn, nz = _mk(n, 8, 3)
    ids = np.arange(n, dtype=np.int64) * 2 + 1  # sorted, non-contiguous
    q_sel = np.arange(0, n, 97)
    got = _run(ids[q_sel], matn[q_sel], ~nz[q_sel], ids, matn, nz,
               0.6, None, self_mode=True)
    want = _brute(ids[q_sel], matn[q_sel], ~nz[q_sel], ids, matn, nz,
                  0.6, None, self_mode=True)
    assert got == want and len(got) > 0


def test_tiled_kernel_unsorted_ids_no_skip():
    """Unsorted index ids disable the tile skip; results unchanged."""
    matn, nz = _mk(300, 16, 5)
    ids = np.arange(300, dtype=np.int64)
    rng = np.random.default_rng(0)
    perm = rng.permutation(300)
    got = _run(ids, matn, ~nz, ids[perm], matn[perm], nz[perm],
               0.5, None, self_mode=True)
    want = _brute(ids, matn, ~nz, ids[perm], matn[perm], nz[perm],
                  0.5, None, self_mode=True)
    assert got == want and len(got) > 0


def test_tiled_kernel_prefilter_cap_exact():
    """A clique far larger than max_k exercises the f32 prefilter;
    the capped edge set and f64 scores must equal brute force."""
    matn, nz = _mk(400, 12, 9, clique=250)
    ids = np.arange(400, dtype=np.int64)
    for max_k in (5, 40):
        got = _run(ids, matn, ~nz, ids, matn, nz, 0.7, max_k,
                   self_mode=True)
        want = _brute(ids, matn, ~nz, ids, matn, nz, 0.7, max_k,
                      self_mode=True)
        assert got == want
        assert len(got) > 250  # the clique actually paired and capped


def test_tiled_kernel_cross_and_zero_threshold():
    matn, nz = _mk(150, 10, 13, zero_rows=(4, 77))
    q, qnz = _mk(60, 10, 14, zero_rows=(8,))
    ids = np.arange(150, dtype=np.int64)
    q_ids = np.arange(1000, 1060, dtype=np.int64)
    got = _run(q_ids, q, ~qnz, ids, matn, nz, -0.2, 9, self_mode=False)
    want = _brute(q_ids, q, ~qnz, ids, matn, nz, -0.2, 9, self_mode=False)
    assert got == want and len(got) > 0


# ------------------------------------------- longest common substring


def test_lcs_hash_kernel_matches_automaton():
    # the rolling-hash binary-search kernel must agree with the exact
    # suffix automaton on random strings, repeats, unicode, and edges
    rng = random.Random(31337)
    cases = [
        ("", ""), ("", "abc"), ("abc", ""), ("a", "a"), ("a", "b"),
        ("aaaa", "aaaaaa"), ("abab", "babab"),
        ("héllo wörld", "wörld héllo"),        # multi-byte code points
        ("xyz" * 50, "abc" + "xyz" * 30 + "q"),
    ]
    for _ in range(150):
        al = rng.randint(0, 60)
        bl = rng.randint(0, 60)
        alpha = rng.choice(["ab", "abc", "abcdefgh", "a"])
        a = "".join(rng.choice(alpha) for _ in range(al))
        b = "".join(rng.choice(alpha) for _ in range(bl))
        cases.append((a, b))
    for a, b in cases:
        assert K._lcs_len_hash(a, b) == K._lcs_len(a, b), (a, b)


def test_lcs_hash_kernel_big_documents():
    big = "def f(x):\n    return x + 1\n" * 400          # ~10 KB
    frag = big[3000:7000]
    mutated = frag[:2000] + "# CHANGED\n" + frag[2000:]
    assert K._lcs_len_hash(big, frag) == len(frag)
    assert K._lcs_len_hash(big, mutated) == K._lcs_len(big, mutated)
