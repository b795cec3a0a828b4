#!/usr/bin/env python
"""In-process timings of the engine's numpy kernels against a gemm and
memcpy roofline taken in the same run.

Usage: python tools/kernel_bench.py [--runs 5] [--seed 0] [--out FILE]

Imports only ``semhash_spark.kernels`` and ``semhash_spark.functions
.arrays`` and starts no SparkSession. BLAS runs on one thread, as in a
Spark python worker (``session.get_spark`` pins the same variables),
so the figures are per core. The inputs are synthetic, in memory and
fixed by ``--seed``:

* ``score_set_pairs`` — exact Jaccard of 100,000 pairs against a
  4-shard pack of 20,000 sets of 100-200 hashes, in the 2,048-pair
  chunks of the verified bucket walk (``lsh._SCORE_CHUNK``);
* ``chunked_threshold`` — the fused f32 scan with f64 rescore, 2,000
  queries against 20,000 index rows of 64 dims (cross mode: no tile
  skip), threshold 0.75 on clustered rows;
* ``topk`` — ``_topk_chunks`` + ``_topk_avgs``, k = 100, the same
  2,000 x 20,000 x 64 shape in f64, self rows excluded;
* ``bucket_walk`` — 2,000,000 sorted band rows in 10,000-row Arrow
  batches, geometric bucket sizes, star cap 1,000;
* ``lcs_len_hash`` — 200 document pairs of 1-8 KB sharing a fragment.

Each kernel reports the median, min and max of ``--runs`` timed runs
(its output consumed inside the timing), its work as counts, and a
rate: GFLOP/s and the fraction of the same-precision gemm peak for the
two gemm kernels, GB/s of the bytes it reads and writes and the
fraction of memcpy bandwidth for the others. memcpy GB/s is bytes
copied per second (each byte read once and written once). The work
counts (pairs kept, edges, ranked rows, LCS total) depend on the seed
alone. Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time

for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from semhash_spark import kernels as K  # noqa: E402
from semhash_spark.functions.arrays import record_batch  # noqa: E402


def _timed(fn, runs: int) -> tuple[list[float], object]:
    """Wall seconds of ``runs`` calls of ``fn`` after one untimed warm
    call, and the last call's result."""
    out = fn()
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return times, out


def _summary(times: list[float]) -> dict:
    return {"median_s": round(statistics.median(times), 6),
            "min_s": round(min(times), 6), "max_s": round(max(times), 6),
            "runs": len(times)}


def roofline(runs: int) -> dict:
    """Best-of-``runs`` 1024^3 gemm GFLOP/s (f64 and f32) and memcpy
    GB/s over 64 MB buffers."""
    rng = np.random.default_rng(0)
    out = {}
    for name, dtype in (("gemm_f64_gflops", np.float64), ("gemm_f32_gflops", np.float32)):
        a = rng.standard_normal((1024, 1024)).astype(dtype)
        b = rng.standard_normal((1024, 1024)).astype(dtype)
        c = np.empty((1024, 1024), dtype=dtype)
        times, _ = _timed(lambda: np.dot(a, b, out=c), runs)
        out[name] = round(2 * 1024 ** 3 / min(times) / 1e9, 2)
    src = rng.integers(0, 255, 64 << 20, dtype=np.uint8)
    dst = np.empty_like(src)
    times, _ = _timed(lambda: np.copyto(dst, src), runs)
    out["memcpy_gbs"] = round(src.nbytes / min(times) / 1e9, 2)
    return out


def bench_score_set_pairs(rng, runs):
    n, shards, n_pairs, chunk = 20_000, 4, 100_000, 2048
    lens = rng.integers(100, 201, n).astype(np.int64)
    # duplicate-free sets over a small universe, so pairs overlap: row
    # i holds (start_i + j * step_i) mod P, j < len_i < P
    p = 4001
    vals = (np.repeat(rng.integers(0, p, n), lens)
            + K._ramp(lens) * np.repeat(rng.integers(1, p, n), lens)) % p
    bounds = np.linspace(0, n, shards + 1).astype(int)
    flats, row_shard, row_off = [], np.empty(n, np.int64), np.empty(n, np.int64)
    for s in range(shards):
        lo, hi = bounds[s], bounds[s + 1]
        row_shard[lo:hi] = s
        row_off[lo:hi] = np.concatenate(([0], np.cumsum(lens[lo:hi])[:-1]))
        v0 = int(lens[:lo].sum())
        flats.append(vals[v0:v0 + int(lens[lo:hi].sum())].astype(np.int64))
    ids = np.arange(n, dtype=np.int64) * 3
    pack = (ids, np.arange(n, dtype=np.int64), row_shard, row_off, lens, flats)
    a = ids[rng.integers(0, n, n_pairs)]
    b = ids[rng.integers(0, n, n_pairs)]

    def run():
        kept = 0
        for i in range(0, n_pairs, chunk):
            kept += len(K.score_set_pairs(pack, a[i:i + chunk], b[i:i + chunk], 0.02)[0])
        return kept

    times, kept = _timed(run, runs)
    values = int(lens[a // 3].sum() + lens[b // 3].sum())
    # gathered values are written into, sorted in and compared across
    # the padded matrix: count each once in and once out
    nbytes = 2 * 8 * values + 16 * n_pairs
    return times, {"pairs": n_pairs, "values": values, "kept": int(kept)}, nbytes, None


def _clustered(rng, n, dim, centers):
    c = rng.standard_normal((centers, dim))
    x = c[rng.integers(0, centers, n)] + 0.6 * rng.standard_normal((n, dim))
    return K._normalize_rows(x)[0]


def bench_chunked_threshold(rng, runs):
    n, nq, dim = 20_000, 2_000, 64
    matn = _clustered(rng, n, dim, 200)
    blocks = K._build_blocks(matn)
    nz = np.ones(n, dtype=bool)
    ids = np.arange(n, dtype=np.int64)
    q = matn[rng.integers(0, n, nq)].copy()
    q_ids = np.arange(10 ** 6, 10 ** 6 + nq, dtype=np.int64)
    qz = np.zeros(nq, dtype=bool)

    def run():
        return sum(len(r) for r, _, _ in K._chunked_threshold(
            q_ids, q, qz, ids, matn, blocks, nz, 0.75, None, self_mode=False))

    times, edges = _timed(run, runs)
    flops = 2 * nq * blocks.shape[0] * K._BLK_W * dim
    return times, {"queries": nq, "index_rows": n, "dim": dim, "edges": int(edges)}, None, (
        flops, "gemm_f32_gflops")


def bench_topk(rng, runs):
    n, nq, dim, k = 20_000, 2_000, 64, 100
    matn = _clustered(rng, n, dim, 200)
    mnT = np.ascontiguousarray(matn.T)
    ids = np.arange(n, dtype=np.int64)
    sel = rng.integers(0, n, nq)
    q, q_ids = matn[sel].copy(), ids[sel]
    zn = np.zeros(n, dtype=bool)
    qz = np.zeros(nq, dtype=bool)
    bufs = K._topk_buffers(n, True)

    def run():
        ranked = 0
        for lo, hi, _, sorted_s, valid, counts in K._topk_chunks(
                q_ids, q, qz, ids, mnT, zn, k, True, bufs):
            ranked += len(K._topk_avgs(q_ids[lo:hi], sorted_s, valid, counts)[0])
        return ranked

    times, ranked = _timed(run, runs)
    return times, {"queries": nq, "index_rows": n, "dim": dim, "k": k,
                   "ranked": int(ranked)}, None, (2 * nq * n * dim, "gemm_f64_gflops")


def bench_bucket_walk(rng, runs):
    rows, batch, cap = 2_000_000, 10_000, 1000
    sizes = rng.geometric(0.3, rows)
    sizes[rng.integers(0, len(sizes), 3)] = 5000  # a few star buckets
    sizes = sizes[np.cumsum(sizes) <= rows]
    n = int(sizes.sum())
    bucket = np.repeat(np.arange(len(sizes), dtype=np.int64), sizes)
    band_idx = (bucket % 16).astype(np.int32)
    band_hash = bucket * 7919 + 11
    # ascending distinct ids within each bucket: a random base plus the
    # bucket's running sum of positive steps
    step = rng.integers(1, 1000, n)
    run = np.cumsum(step)
    first = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    ids = run - np.repeat(run[first] - step[first], sizes) + np.repeat(
        rng.integers(0, 10 ** 9, len(sizes)), sizes)
    batches = [record_batch({"band_idx": band_idx[i:i + batch],
                             "band_hash": band_hash[i:i + batch],
                             "_id": ids[i:i + batch]})
               for i in range(0, n, batch)]

    def run():
        return sum(len(a) for a, _ in K._bucket_walk(iter(batches), cap))

    times, pairs = _timed(run, runs)
    nbytes = n * (4 + 8 + 8) + 16 * pairs
    return times, {"rows": n, "buckets": len(sizes), "pairs": int(pairs)}, nbytes, None


def bench_lcs(rng, runs):
    words = [f"tok{i}" for i in range(500)]

    def doc(n_words):
        return " ".join(words[j] for j in rng.integers(0, len(words), n_words))

    pairs = []
    for _ in range(200):
        frag = doc(int(rng.integers(60, 200)))
        a = doc(int(rng.integers(100, 600))) + frag + doc(int(rng.integers(50, 300)))
        b = doc(int(rng.integers(50, 300))) + frag
        pairs.append((a, b))

    def run():
        return sum(K._lcs_len_hash(a, b) for a, b in pairs)

    times, total = _timed(run, runs)
    chars = sum(len(a) + len(b) for a, b in pairs)
    # code points are read as uint32 and hashed as uint64
    return times, {"pairs": len(pairs), "chars": chars, "lcs_total": int(total)}, 12 * chars, None


KERNELS = {
    "score_set_pairs": bench_score_set_pairs,
    "chunked_threshold": bench_chunked_threshold,
    "topk": bench_topk,
    "bucket_walk": bench_bucket_walk,
    "lcs_len_hash": bench_lcs,
}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--out", default=None, help="also write the JSON line here")
    args = ap.parse_args()

    roof = roofline(args.runs)
    report = {"host": {"machine": platform.machine(), "cpus": os.cpu_count(),
                       "numpy": np.__version__, "pyarrow": pa.__version__,
                       "blas_threads": os.environ["OPENBLAS_NUM_THREADS"]},
              "seed": args.seed, "roofline": roof, "kernels": {}}
    for name, bench in KERNELS.items():
        times, work, nbytes, flop = bench(np.random.default_rng(args.seed), args.runs)
        entry = {**_summary(times), "work": work}
        t = statistics.median(times)
        if flop is not None:
            flops, peak = flop
            entry["gflops"] = round(flops / t / 1e9, 2)
            entry["frac_of_gemm"] = round(flops / t / 1e9 / roof[peak], 3)
        else:
            entry["gbs"] = round(nbytes / t / 1e9, 3)
            entry["frac_of_memcpy"] = round(nbytes / t / 1e9 / roof["memcpy_gbs"], 4)
        report["kernels"][name] = entry
    line = json.dumps(report, sort_keys=True)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
