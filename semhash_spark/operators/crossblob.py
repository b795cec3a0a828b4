"""Single-job cross-dedup against a blob-packed fitted index (minhash).

The reference benchmark's dedup-only shape — a few thousand queries
against a ~1.8M-row fitted index (ref benchmarks/README.md:43-61) —
is existential and tiny on the query side, but the round-5 relational
plan paid several FULL scans of the fitted caches per call (the band
join, the exact-key joins, and two feature rehydration joins each
walk millions of cached rows to answer 4.3k queries: 24.9 s measured
dedup-only at 4.3k-vs-1.8M). This module packs the three fitted
structures ONCE per fit as executor-side mmap blobs:

  * exact keys   — sorted sha256 digests -> exemplar id
  * band table   — the THINNED table, range-sorted by band_hash,
                   hash -> (band_idx, member id) runs
  * shingle sets — the existing ``load_feats_segments`` pack

and answers a query batch in ONE map-only job (`mapInPandas` over the
query side; exact lookup, band-bucket probes, candidate dedup, exact
float64 Jaccard verify — no shuffle, no index-side scan). Emitted
rows and scores are identical to the relational plan: same full-index
exact semantics, same thinned buckets, same distinct candidate
relation, same IEEE double division; parity is pinned by
tests/test_crossblob.py against the generic path.

At 100 TB the same structure holds: the blobs are the fitted index's
serialized form (built once per fit on shared storage via
``spark.semhash.blobDir``), queries scale out by partition, and the
per-task memory is the mmap'd blobs (shared page cache) plus one
Arrow batch. The path is gated by ``DedupConfig.cross_blob_min_rows``
(the relational plan stays cheaper for small fitted sides where the
blob build would dominate) and by index size staying within
``VERIFY_BROADCAST_MAX_BYTES`` of shingle payload per executor.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark.operators.verify import (
    _gather_rows,
    _lookup_rows,
    _pack_sharded,
    _padded_intersections,
    _ramp,
    load_feats_segments,
    write_blob,
)


def build_cross_blobs(
    feats: DataFrame,
    idx_keys: DataFrame,
    idx_bands: DataFrame,
    id_col: str = "record_id",
) -> dict:
    """Write the three fitted-side parquet blobs; returns the ref dict
    ``cross_match_blob`` needs. The caller (the fit) owns the blobs and
    drops them. ``idx_bands`` must be the PRE-THINNED band table (api
    memo) so the kernel probes the exact buckets the relational plan
    joins; it is written range-sorted by band hash, one disjoint hash
    range per part."""
    spark = feats.sparkSession
    n_part = max(8, int(spark.conf.get("spark.sql.shuffle.partitions")))
    bands = (
        idx_bands.select("band_hash", "band_idx", F.col(id_col).alias("member"))
        .repartitionByRange(n_part, "band_hash")
        .sortWithinPartitions("band_hash")
    )
    return {
        "keys": write_blob(idx_keys.select("exemplar_id", "exact_key"),
                           "exemplar_id", "exact_key", "xkeys"),
        "bands": write_blob(bands, "member", "band_hash", "xbands"),
        "feats": write_blob(feats.select(id_col, "shingles"), id_col, "shingles",
                            "xfeats"),
    }


def _load_keys(ref: dict):
    """Sorted digest pack: (k0..k3 uint64 columns in lexicographic
    digest order, exemplar ids aligned). sha256 hex sorts the same as
    its big-endian words, so a first-word searchsorted plus a short
    run compare on the remaining words is an exact lookup. Each part
    decodes to (n, 4) digest words on its own worker; the finalizer
    sorts them globally."""

    def part_builder(path):
        import pyarrow.parquet as pq

        tbl = pq.read_table([path], columns=["exemplar_id", "exact_key"])
        ex = tbl.column("exemplar_id").to_numpy().astype(np.int64, copy=False)
        kb = np.frombuffer(
            bytes.fromhex("".join(tbl.column("exact_key").to_pylist())), dtype=">u8")
        return [kb.reshape(len(ex), 4).astype(np.uint64), ex]

    def finalize_builder(shards):
        if not shards:
            return [np.empty((0, 4), np.uint64), np.empty(0, np.int64)]
        kb = np.concatenate([s[0] for s in shards])
        ex = np.concatenate([s[1] for s in shards])
        order = np.lexsort((kb[:, 3], kb[:, 2], kb[:, 1], kb[:, 0]))
        return [kb[order].T, ex[order]]

    (kbT, ex), _ = _pack_sharded(ref, "xkeys", part_builder, finalize_builder)
    return kbT[0], kbT[1], kbT[2], kbT[3], ex


def _load_bands(ref: dict):
    """Range-sorted band pack: per parquet part (disjoint band_hash
    ranges) the sorted hash array plus aligned (band_idx, member)
    arrays; a small (mins, maxs, shard_no) index routes a probe hash
    to its single owning part. Shard decode is worker-parallel."""

    def part_builder(path):
        import pyarrow.parquet as pq

        tbl = pq.read_table([path], columns=["band_hash", "band_idx", "member"])
        h = tbl.column("band_hash").to_numpy().astype(np.int64, copy=False)
        bi = tbl.column("band_idx").to_numpy().astype(np.int64, copy=False)
        m = tbl.column("member").to_numpy().astype(np.int64, copy=False)
        if len(h) and (np.diff(h) < 0).any():  # defensive: keep sorted
            order = np.argsort(h, kind="stable")
            h, bi, m = h[order], bi[order], m[order]
        return [h, bi, m]

    def finalize_builder(shards):
        mins, maxs, nos = [], [], []
        for k, s in enumerate(shards):
            if len(s[0]):
                mins.append(int(s[0][0]))
                maxs.append(int(s[0][-1]))
                nos.append(k)
        return [np.asarray(mins, dtype=np.int64),
                np.asarray(maxs, dtype=np.int64),
                np.asarray(nos, dtype=np.int64)]

    (mins, maxs, nos), shard_groups = _pack_sharded(
        ref, "xbands", part_builder, finalize_builder
    )
    return mins, maxs, nos, shard_groups


def _cross_intersections(segt, pos_b, q_flat, q_offs, q_lens, qrow):
    """|Q_r ∩ B_p| per pair: side A = the pair's query shingle set
    (batch-local flat/offsets), side B = an index row of the sharded
    segments pack — the padded-sort kernel of
    ``verify._padded_intersections``. Returns (inter, la, lb)."""
    la = q_lens[qrow]
    lb = np.asarray(segt[3][pos_b])
    inter = _padded_intersections(
        la, lb,
        lambda sel: q_flat[np.repeat(q_offs[qrow[sel]], la[sel]) + _ramp(la[sel])],
        lambda sel: _gather_rows(segt, pos_b[sel], lb[sel]),
    )
    return inter, la, lb


def cross_match_blob(
    query_df: DataFrame,
    cfg,
    refs: dict,
    threshold: float,
    id_col: str = "record_id",
) -> DataFrame:
    """(query_id, match_id, score, exact) in ONE map-only job.

    exact=true rows: the query's exact_key exists in the fitted index
    (match_id = the index group's exemplar, score 1.0); such rows get
    no semantic matching, mirroring ``cross_exact_split``. exact=false
    rows: every (query, index) pair at Jaccard >= threshold reachable
    through the thinned band buckets — the relational plan's ``hits``
    relation, scores bit-identical. The frame reads the fit's blobs;
    the caller detaches it (``verify.detach``).
    """
    from semhash_spark.operators.dedup import add_features
    from semhash_spark.operators.ids import exact_key
    from semhash_spark.operators.lsh import band_hash_array

    thr = float(threshold)
    qf = add_features(query_df, cfg, "minhash")
    q = qf.select(
        F.col(id_col).alias("_qid"),
        exact_key(cfg.columns, query_df).alias("_xk"),
        F.col("shingles").alias("_sh"),
        F.when(
            F.size("shingles") > 0,
            band_hash_array("sig", cfg.bands, cfg.rows_per_band),
        ).otherwise(F.expr("array()").cast("array<long>")).alias("_bands"),
    )

    def match(batches):
        k0, k1, k2, k3, kex = _load_keys(refs["keys"])
        bmins, bmaxs, bnos, bshards = _load_bands(refs["bands"])
        ids_sorted, perm, row_shard, row_off, row_len, flats = (
            load_feats_segments(refs["feats"])
        )
        segt = (flats, row_shard, row_off, row_len)
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            qids = pdf["_qid"].to_numpy().astype(np.int64, copy=False)
            out_frames = []
            # ---- exact stage: sorted-digest lookup
            kb = np.frombuffer(
                bytes.fromhex("".join(pdf["_xk"])), dtype=">u8"
            ).reshape(n, 4).astype(np.uint64)
            exact_row = np.full(n, -1, dtype=np.int64)
            if len(k0):
                lo = np.searchsorted(k0, kb[:, 0], "left")
                hi = np.searchsorted(k0, kb[:, 0], "right")
                for qi in np.flatnonzero(hi > lo):
                    for p in range(lo[qi], hi[qi]):
                        if (k1[p] == kb[qi, 1] and k2[p] == kb[qi, 2]
                                and k3[p] == kb[qi, 3]):
                            exact_row[qi] = kex[p]
                            break
            is_exact = exact_row >= 0
            if is_exact.any():
                sel = np.flatnonzero(is_exact)
                out_frames.append(pd.DataFrame({
                    "query_id": qids[sel],
                    "match_id": exact_row[sel],
                    "score": np.ones(len(sel)),
                    "exact": np.ones(len(sel), dtype=bool),
                }))
            # ---- semantic stage for non-exact rows
            sem = np.flatnonzero(~is_exact)
            if len(sem) and len(bnos):
                band_arrays = [
                    np.asarray(pdf["_bands"].iloc[i], dtype=np.int64)
                    for i in sem
                ]
                blens = np.fromiter(
                    (len(a) for a in band_arrays), np.int64, count=len(sem)
                )
                if int(blens.sum()):
                    h = (np.concatenate(band_arrays) if len(band_arrays)
                         else np.empty(0, np.int64))
                    qrow_b = np.repeat(sem, blens)
                    bidx_b = _ramp(blens)
                    # route each probe hash to its owning sorted part
                    pno = np.searchsorted(bmaxs, h, "left")
                    ok = (pno < len(bmaxs))
                    ok[ok] &= bmins[pno[ok]] <= h[ok]
                    cand_q = []
                    cand_i = []
                    for s in np.unique(pno[ok]):
                        sel_p = ok & (pno == s)
                        sh_h, sh_bi, sh_m = bshards[bnos[s]]
                        lo = np.searchsorted(sh_h, h[sel_p], "left")
                        hi = np.searchsorted(sh_h, h[sel_p], "right")
                        rl = hi - lo
                        if not int(rl.sum()):
                            continue
                        idxs = np.repeat(lo, rl) + _ramp(rl)
                        okb = np.asarray(sh_bi)[idxs] == np.repeat(
                            bidx_b[sel_p], rl
                        )
                        if not okb.any():
                            continue
                        cand_q.append(np.repeat(qrow_b[sel_p], rl)[okb])
                        cand_i.append(np.asarray(sh_m)[idxs][okb])
                    if cand_q:
                        cq = np.concatenate(cand_q)
                        ci = np.concatenate(cand_i)
                        # distinct (query, index) candidates
                        order = np.lexsort((ci, cq))
                        cq, ci = cq[order], ci[order]
                        first = np.empty(len(cq), dtype=bool)
                        first[0] = True
                        np.logical_or(
                            cq[1:] != cq[:-1], ci[1:] != ci[:-1],
                            out=first[1:],
                        )
                        cq, ci = cq[first], ci[first]
                        # verify: exact float64 Jaccard
                        pos = _lookup_rows(ids_sorted, perm, ci, "index")
                        sh_arrays = [
                            np.asarray(pdf["_sh"].iloc[i], dtype=np.int64)
                            if pdf["_sh"].iloc[i] is not None
                            else np.empty(0, np.int64)
                            for i in range(n)
                        ]
                        q_lens = np.fromiter(
                            (len(a) for a in sh_arrays), np.int64, count=n
                        )
                        q_offs = np.zeros(n, dtype=np.int64)
                        np.cumsum(q_lens[:-1], out=q_offs[1:])
                        q_flat = (np.concatenate(sh_arrays) if n
                                  else np.empty(0, np.int64))
                        inter, la, lb = _cross_intersections(
                            segt, pos, q_flat, q_offs, q_lens, cq
                        )
                        union = la + lb - inter
                        score = np.divide(
                            inter.astype(np.float64), union,
                            out=np.zeros(len(cq)), where=union > 0,
                        )
                        keep = score >= thr
                        if keep.any():
                            out_frames.append(pd.DataFrame({
                                "query_id": qids[cq[keep]],
                                "match_id": ci[keep],
                                "score": score[keep],
                                "exact": np.zeros(int(keep.sum()), dtype=bool),
                            }))
            if out_frames:
                yield pd.concat(out_frames, ignore_index=True)

    return q.mapInPandas(
        match, "query_id long, match_id long, score double, exact boolean"
    )
