#!/usr/bin/env python
"""Scale runner for the flagship corpus self-dedup (round-5 evidence).

Runs ``self_deduplicate`` on the synthetic input_hint corpus at an
arbitrary file count with per-stage wall-clock and delivered-compute
canaries, and prints ONE JSON line. Covers the round-5 measured
claims:

  * 1M cosine-mode flagship through the hyperplane-LSH path
    (``--mode cosine`` forces ``cosine_fused_cap`` below n so the
    at-scale SRP plan runs, not the fused matmul)
  * 3M-file probe of the next bottleneck (``n=3000000``)
  * forced distributed-CC rehearsal (``--star-cc`` sets
    ``driver_cc_cap=0`` so clustering runs the alternating
    large-star/small-star rounds end-to-end regardless of edge count)
  * skew stress (``--skew``): rewrites content for rid%10==7 into a
    shared boilerplate header + tiny unique tail — a planted
    ~n/10-member mega-bucket (100k members at 1M) that the
    star-cap/thinning must absorb (VERDICT r4 item 8)

Usage:
    python tools/flagship_1m.py [n_files] [--mode minhash|cosine]
        [--theta T] [--star-cc] [--skew] [--runs K]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _burn(_):
    x = 0
    for i in range(10**7):
        x += i * i
    return x


def canary_seconds(procs: int = 8, timeout: float = 30.0) -> float:
    import multiprocessing as mp

    t0 = time.perf_counter()
    with mp.Pool(procs) as p:
        r = p.map_async(_burn, range(procs))
        try:
            r.get(timeout=timeout)
        except mp.TimeoutError:
            p.terminate()
    return time.perf_counter() - t0


def membw_canary_seconds() -> float:
    """Seconds to copy 100 MB once (healthy 0.01-0.05 s) — catches
    the round-5 memory-bandwidth collapse regime that the ALU canary
    and loadavg both miss (memcpy at 6-15 MB/s while 96% idle)."""
    import numpy as np

    a = np.empty(100_000_000, dtype=np.uint8)
    a.fill(1)
    t0 = time.perf_counter()
    a.copy()
    return time.perf_counter() - t0


class RssSampler:
    """Background thread sampling total RSS of this session's python
    workers + JVM every 0.5 s (sum over /proc/*/status of processes
    whose ancestry includes this pid) — peak memory evidence for the
    VERDICT r5 item-4 bound without external deps."""

    def __init__(self) -> None:
        import threading

        self.peak_gb = 0.0
        # python workers only (pyspark.daemon tree) — the executor-
        # realistic number: on a cluster the JVM heap is provisioned
        # separately while worker RSS is what memoryOverhead must cover
        self.peak_workers_gb = 0.0
        # PSS sum over the same workers (smaps_rollup, sampled every
        # 4th tick — pricier kernel walk): VmRSS charges a shared
        # mmap'd blob pack once PER WORKER, so the RSS sum over 32
        # workers over-counts the one physical copy up to 32x; PSS
        # divides shared pages by their mapper count, matching how a
        # cgroup/executor memory limit actually charges them
        self.peak_workers_pss_gb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _descendants(self) -> set[int]:
        import os

        kids: dict[int, list[int]] = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parts = fh.read().rsplit(") ", 1)[1].split()
                kids.setdefault(int(parts[1]), []).append(int(pid))
            except (OSError, IndexError, ValueError):
                continue
        out, todo = set(), [__import__("os").getpid()]
        while todo:
            p = todo.pop()
            out.add(p)
            todo.extend(kids.get(p, []))
        return out

    def _run(self) -> None:
        tick = 0
        while not self._stop.is_set():
            total = 0
            workers = 0
            pss = 0
            do_pss = tick % 4 == 0
            for pid in self._descendants():
                try:
                    with open(f"/proc/{pid}/cmdline", "rb") as fh:
                        is_worker = b"pyspark.daemon" in fh.read()
                    with open(f"/proc/{pid}/status") as fh:
                        for line in fh:
                            if line.startswith("VmRSS:"):
                                kb = int(line.split()[1])
                                total += kb
                                if is_worker:
                                    workers += kb
                                break
                    if do_pss and is_worker:
                        with open(f"/proc/{pid}/smaps_rollup") as fh:
                            for line in fh:
                                if line.startswith("Pss:"):
                                    pss += int(line.split()[1])
                                    break
                except OSError:
                    continue
            self.peak_gb = max(self.peak_gb, total / (1 << 20))
            self.peak_workers_gb = max(self.peak_workers_gb, workers / (1 << 20))
            if do_pss:
                self.peak_workers_pss_gb = max(
                    self.peak_workers_pss_gb, pss / (1 << 20)
                )
            tick += 1
            self._stop.wait(0.5)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=2)
        return round(self.peak_gb, 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n", nargs="?", type=int, default=1_000_000)
    ap.add_argument("--mode", default="minhash", choices=["minhash", "cosine"])
    ap.add_argument("--cosine-strategy", default="ivf",
                    choices=["ivf", "hyperplane", "fused"],
                    help="above-cap cosine plan (round 5: ivf is the "
                         "mid-threshold scale path; hyperplane kept for "
                         "comparison; fused = force the n^2 blob matmul)")
    ap.add_argument("--theta", type=float, default=None)
    ap.add_argument("--star-cc", action="store_true",
                    help="force the distributed alternating-star CC path")
    ap.add_argument("--skew", action="store_true",
                    help="plant an n/10-member boilerplate mega-bucket")
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--ivf-payload", default="auto",
                    choices=["auto", "blob", "shuffle"],
                    help="IVF salt-shuffle payload routing A/B: blob = "
                         "id-only shuffle + executor-blob gathers, "
                         "shuffle = round-5 payload shuffle")
    ap.add_argument("--ivf-group-cap", type=int, default=None,
                    help="override verify._IVF_GROUP_CAP (salted "
                         "probe-group bound; output-invariant)")
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from pyspark.sql import functions as F

    from bench import StageTimer
    from semhash_spark.config import DedupConfig
    from semhash_spark.operators.dedup import self_deduplicate
    from semhash_spark.session import get_spark
    from semhash_spark.sources.corpus import generate_corpus

    if args.mode == "minhash":
        cfg = DedupConfig(columns=("content",), threshold=args.theta or 0.8,
                          shingle_k=5, num_perm=128, bands=32)
    else:
        # the bench cos_cfg (bench.py): bigram hashing encoder +
        # width-16 SRP bands; fused cap forced below n so the
        # hyperplane-LSH plan runs at any size
        cfg = DedupConfig(
            columns=("content",), threshold=args.theta or 0.75,
            embedding_dim=128, embedding_ngram=2,
            hyperplane_bits=2048, hyperplane_bands=128,
            cosine_candidates=(
                "ivf" if args.cosine_strategy == "ivf" else "hyperplane"),
            cosine_fused_cap=(
                None if args.cosine_strategy == "fused"
                else min(200_000, args.n - 1) if args.cosine_strategy == "hyperplane"
                else 0),
        )
    if args.star_cc:
        cfg = cfg.with_(driver_cc_cap=0)
    from semhash_spark.operators import verify

    if args.ivf_group_cap is not None:
        verify._IVF_GROUP_CAP = args.ivf_group_cap
    if args.ivf_payload != "auto":
        # force the IVF salt-shuffle transport: id-only + blob row
        # gathers at any size, or the embedding-payload shuffle
        verify._IVF_BLOB_MIN_ROWS = 0 if args.ivf_payload == "blob" else float("inf")

    c0 = canary_seconds()
    m0 = membw_canary_seconds()
    spark = get_spark("flagship_scale", cores=cpus,
                      shuffle_partitions=max(8, cpus))
    corpus = generate_corpus(spark, args.n)
    if args.skew:
        # shared 60-token header + 12-token unique tail for every
        # rid%10==7 row — deterministic, pure JVM expression, same
        # shape as the generator's boilerplate slots but 12.5x more
        # members (n/10 vs BOILER_N*n/100)
        from semhash_spark.sources.corpus import _boiler_tokens

        header = " ".join(_boiler_tokens(42))
        corpus = corpus.withColumn(
            "content",
            F.when(
                F.col("record_id") % 10 == 7,
                F.concat_ws(" ", F.lit(header),
                            F.sha2(F.col("record_id").cast("string"), 256)),
            ).otherwise(F.col("content")),
        )
    corpus = corpus.persist()
    corpus.count()  # materialize outside the timed region
    spark.range(1000).mapInArrow(lambda it: (b for b in it), "id long").count()

    runs = []
    rss = RssSampler().start()
    for i in range(args.runs):
        timer = StageTimer()
        t0 = time.perf_counter()
        res = self_deduplicate(corpus, cfg, mode=args.mode, checkpointer=timer)
        n_sel = res.selected.count()
        n_fil = res.filtered.count()
        sec = round(time.perf_counter() - t0, 2)
        res.release()
        stages = timer.seconds
        timer.release()
        runs.append({"sec": sec, "stages": stages,
                     "load1": round(os.getloadavg()[0], 1)})
        print(f"[flagship] run {i}: {sec}s stages={stages} "
              f"sel={n_sel} fil={n_fil} peak_rss_gb={rss.peak_gb:.1f}",
              file=sys.stderr)
    peak_rss_gb = rss.stop()
    spark.stop()
    c1 = canary_seconds()
    m1 = membw_canary_seconds()

    best = min(r["sec"] for r in runs)
    print(json.dumps({
        "n_files": args.n, "mode": args.mode, "threshold": cfg.threshold,
        "star_cc": args.star_cc, "skew": args.skew, "cpus": cpus,
        "best_sec": best, "files_per_sec": round(args.n / best, 1),
        "n_selected": n_sel, "n_filtered": n_fil,
        "runs": runs, "peak_rss_gb": peak_rss_gb,
        "peak_rss_workers_gb": round(rss.peak_workers_gb, 2),
        "peak_rss_workers_pss_gb": round(rss.peak_workers_pss_gb, 2),
        "canary_before_sec": round(c0, 2), "canary_after_sec": round(c1, 2),
        "membw_before_sec": round(m0, 2), "membw_after_sec": round(m1, 2),
    }))


if __name__ == "__main__":
    main()
