"""Executor-side blobs, their worker packs, and driver-held frames.

Packing a feature table on the DRIVER (toPandas -> numpy -> shipped
.npy) sends gigabytes through one process in a serial stage right
before an otherwise-parallel kernel, and ``sc.broadcast`` is worse: a
~100 MB numpy pickle re-streams PER TASK (~10 s/task measured at
local[32]). A blob is instead the table written as parquet IN PLACE
by the executors (``write_blob``: one part per task, no driver hop)
under ``spark.semhash.blobDir`` or the driver tempdir, where every
python worker reads it directly. The workers of a host decode its
parts in parallel into mmap'd numpy shards and one of them finalizes
the small global index (``_pack_sharded``); the page cache shares
the pack across the host's workers and tasks.

Every blob has one owner. A call drops the blobs it writes before it
returns, after running the frames that read them (``detach``); a
fitted ``SparkSemHash`` owns its embedding and cross-dedup blobs,
detaches every frame it hands out, and drops them in ``release()``.
No returned frame reads a blob, so results outlive both. A frame
``detach`` brings to the driver keeps its Arrow table (``held``).
"""

from __future__ import annotations

import weakref

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark.functions.arrays import list_segments, record_batch
from semhash_spark.kernels import _fill_blocks, _new_blocks, _normalize_rows


def blob_transport_available(spark) -> bool:
    """True when ``write_blob`` can reach the executors: a local master
    (executors share the driver's tempdir) or a configured shared
    ``spark.semhash.blobDir``. AUTO strategy choices consult this so a
    cluster without shared storage falls back to the join/LSH
    strategies instead of dying in write_blob's check (the explicit
    strategies still raise with guidance — an explicit ask should not
    silently degrade)."""
    if spark.conf.get("spark.semhash.blobDir", None):
        return True
    return spark.conf.get("spark.master", "").startswith("local")


# worker-side mmap cache: (kind, final, tag) -> (pack, pack dir, blob
# dir), one entry per pack of a blob; survives tasks. Entries whose
# pack dir or blob dir was removed (the blob's owner dropped it) are
# dropped at the next load: _prune_blob_cache
_BLOB_CACHE: dict = {}


def _pack_root(tag: str) -> str:
    """The host-local dir of a blob's packs (``_pack_sharded``). It is
    kept apart from the blob, which may sit on shared storage
    (``spark.semhash.blobDir``) that every host reads, while each host
    packs for its own workers."""
    import os
    import tempfile

    return os.path.join(tempfile.gettempdir(), "semhash_packed", tag)


def _prune_blob_cache() -> None:
    """Drop the cached packs of removed blobs. Their mmaps would
    otherwise pin the deleted files' pages for the worker's lifetime
    (each blob has a new tag, so the cache only grows). A blob gone
    while its pack dir stays (a shared ``blobDir`` whose packs live on
    worker-local disk the driver cannot reach) also removes the pack
    dir here."""
    import os
    import shutil

    for key, (_, root, src) in list(_BLOB_CACHE.items()):
        if os.path.isdir(root) and os.path.isdir(src):
            continue
        shutil.rmtree(root, ignore_errors=True)
        del _BLOB_CACHE[key]


def _dir_bytes(path: str) -> int:
    import os

    total = 0
    with os.scandir(path) as it:
        for e in it:
            try:
                total += e.stat().st_size
            except FileNotFoundError:  # a part renamed into place meanwhile
                pass
    return total


def _capped_part_writer(path: str, max_bytes: int | None):
    """``mapInArrow`` function writing each task's rows as one parquet
    part under ``path``; yields the task's (rows, bytes) written.

    With ``max_bytes``, writing stops once the dir holds more than
    that: the task that sees it leaves an ``_OVER_CAP`` marker, and
    every task checks the marker between batches and drains its input
    without writing. A blob that cannot fit so costs at most
    ``max_bytes`` plus one batch per concurrent task, not a write of
    the whole table. Parts are named by partition and renamed into
    place when complete, so a retried task replaces its part instead
    of duplicating rows, and part order is partition order."""

    def write(batches):
        import os

        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = os.path.join(path, f"part-{ctx.partitionId():05d}.parquet")
        tmp = f"{part}.{ctx.attemptNumber()}.tmp"
        over = os.path.join(path, "_OVER_CAP")
        writer, rows = None, 0
        for rb in batches:
            if rb.num_rows == 0 or os.path.exists(over):
                continue
            if writer is None:
                # scratch read back at once: hash/float payloads are
                # high-entropy, so a codec only burns CPU
                writer = pq.ParquetWriter(tmp, rb.schema, compression="none")
            writer.write_batch(rb)
            rows += rb.num_rows
            if max_bytes is not None and _dir_bytes(path) > max_bytes:
                open(over, "a").close()
        nbytes = 0
        if writer is not None:
            writer.close()
            nbytes = os.path.getsize(tmp)
            os.replace(tmp, part)
        yield record_batch({"rows": np.array([rows]), "bytes": np.array([nbytes])})

    return write


def write_blob(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    name_prefix: str,
    max_bytes: int | None = None,
) -> dict | None:
    """Write ``df`` (projected and ordered by the caller; one part per
    partition) as a blob the executors read in place; return its ref:
    ``tag``, ``path`` and the ``id_col`` / ``payload_col`` the loaders
    read. The caller owns the blob.

    ``max_bytes``: the size gate of callers with a fallback plan. A blob
    above it is removed after a bounded write and None is returned; the
    check reads the bytes being written, so no size job runs.

    Raises on a non-local master without ``spark.semhash.blobDir``: the
    driver tempdir would surface as a confusing executor
    ``FileNotFoundError`` mid-stage, so this fails at plan time with the
    fix in the message."""
    import os
    import tempfile
    import uuid

    spark = df.sparkSession
    if not blob_transport_available(spark):
        raise RuntimeError(
            f"master {spark.conf.get('spark.master', '')!r} is not local and "
            "spark.semhash.blobDir is not set; executor-side blobs default to "
            "the driver's tempdir, which only local executors share. Set "
            "spark.semhash.blobDir to shared storage (NFS / object-store mount) "
            "in the session conf."
        )
    base = spark.conf.get("spark.semhash.blobDir", None) or tempfile.gettempdir()
    tag = f"{name_prefix}_{uuid.uuid4().hex[:12]}"
    path = os.path.join(base, tag)
    os.makedirs(path)
    written = df.mapInArrow(
        _capped_part_writer(path, max_bytes), "rows long, bytes long").collect()
    ref = {"tag": tag, "path": path, "id_col": id_col, "payload_col": payload_col}
    if max_bytes is not None and (
        sum(r.bytes for r in written) > max_bytes
        or os.path.exists(os.path.join(path, "_OVER_CAP"))
    ):
        drop_blob(ref)
        return None
    return ref


def drop_blob(ref: dict | None) -> None:
    """Remove a blob and its packs (``semhash_packed/<tag>``); the
    workers' caches drop the packs at their next load
    (``_prune_blob_cache``). None is a no-op."""
    import shutil

    if ref is not None:
        shutil.rmtree(ref["path"], ignore_errors=True)
        shutil.rmtree(_pack_root(ref["tag"]), ignore_errors=True)


# the Arrow table each driver-held frame (``detach``, ``hold``) was
# built from, by frame: a caller reads a held frame's rows back with
# ``held`` instead of collecting them again. An entry lives as long as
# its frame.
_HELD: "weakref.WeakKeyDictionary[DataFrame, pa.Table]" = weakref.WeakKeyDictionary()


def hold(spark, table: "pa.Table", one_partition: bool = False) -> DataFrame:
    """A driver-held frame of ``table``'s rows (a LocalRelation up to
    Spark's local-relation size), readable back with ``held``.
    ``one_partition`` keeps the rows in one partition in table order,
    where a count or a sort needs no exchange."""
    out = spark.createDataFrame(table)
    if one_partition:
        out = out.coalesce(1)
    _HELD[out] = table
    return out


def held(frame: DataFrame) -> "pa.Table | None":
    """The Arrow table of a driver-held frame (``hold``, ``detach``),
    or None when ``frame`` is not one."""
    return _HELD.get(frame)


def detach(frame: DataFrame, own: dict | None = None, in_order: bool = False) -> DataFrame:
    """Run ``frame``, a plan that reads blobs, now and return a frame
    that reads none; then drop ``own``, the blob the caller wrote for
    this frame alone (None when the blob's owner outlives the call).
    Up to ``DRIVER_CC_CAP`` rows come back as a driver-held frame
    (``hold``: no cache, nothing to release, its table kept for
    ``held``); more stay on the executors as an eager local checkpoint,
    freed when the frame is garbage-collected. ``in_order`` makes the
    driver-held frame one partition in collected order, where each
    task's rows stay contiguous and in order, for consumers whose
    aggregates depend on row order (a float ``avg`` of a query's top-k
    rows then sums as it does over ``frame``); otherwise its rows are
    spread over the default parallelism, as downstream stages want."""
    from semhash_spark.operators.components import DRIVER_CC_CAP

    try:
        # Arrow both ways: a pandas round trip cost ~100 MB more peak
        # PSS on the 3,000-file benchmark (local[2], 4-core host)
        probe = frame.limit(DRIVER_CC_CAP + 1).toArrow()
        if probe.num_rows > DRIVER_CC_CAP:
            return frame.localCheckpoint(eager=True)
        return hold(frame.sparkSession, probe, one_partition=in_order)
    finally:
        drop_blob(own)


def _feat_bytes(feats: DataFrame, payload_col: str) -> tuple[int, int]:
    """(row_count, estimated payload bytes) of an (id, array) table —
    one aggregate job; 8 bytes per element + 16/row overhead."""
    row = feats.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.coalesce(F.size(payload_col), F.lit(0))), F.lit(0)).alias(
            "vals"
        ),
    ).first()
    n = int(row["n"])
    return n, int(row["vals"]) * 8 + n * 16


# ------------------------------------------------------- worker packs


def _blob_files(ref: dict) -> list[str]:
    """The blob's parquet parts in partition order (none for an empty
    table). A removed blob raises: reading it as empty would turn a
    lifetime bug into silently missing results."""
    import glob
    import os

    if not os.path.isdir(ref["path"]):
        raise FileNotFoundError(f"blob {ref['path']} was dropped by its owner")
    return sorted(glob.glob(os.path.join(ref["path"], "*.parquet")))


def _read_id_payload_files(files: list[str], id_col: str, payload_col: str):
    """(ids int64, flat values, per-row lens int64, null-row mask) of a
    parquet file list, the payload read by ``arrays.list_segments``
    (NULL payload rows read as length 0)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(files, columns=[id_col, payload_col])
    ids = tbl.column(id_col).to_numpy().astype(np.int64, copy=False)
    values, lens, _, null_rows = list_segments(tbl.column(payload_col))
    return ids, values, lens, null_rows


# a pack lock whose owner is alive but whose mtime is older than this
# is treated as stale and reclaimed (well above the 8-20 s measured
# pack cost; below the 600 s waiter deadline so reclaim fires first)
_LOCK_STALE_SECS = 300.0


def _acquire_pack_lock(lock: str, done: str) -> bool:
    """O_CREAT|O_EXCL lock with STALE-OWNER RECLAIM (ADVICE r2: a
    python worker SIGKILLed mid-build left its shard permanently
    unbuilt and every peer polled 600 s into TimeoutError).

    The lock file records the owner pid; a worker that finds the lock
    held checks whether the owner still exists (python workers
    sharing a tmp dir share a host/kernel, so ``os.kill(pid, 0)`` is
    authoritative) and reclaims when the owner died uncleanly or the
    lock outlived ``_LOCK_STALE_SECS``. Reclaim is unlink + O_EXCL
    retry, so concurrent reclaimers still arbitrate through O_EXCL.
    Returns True iff THIS worker now holds the lock; False when the
    pack is done or genuinely held by a live owner."""
    import os
    import time as _time

    while True:
        if os.path.exists(done):
            return False
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.write(fd, str(os.getpid()).encode())
            os.close(fd)
            return True
        except FileExistsError:
            pass
        try:
            with open(lock) as fh:
                owner = int(fh.read().strip() or "-1")
            age = _time.time() - os.path.getmtime(lock)
        except (OSError, ValueError):
            continue  # lock vanished/unreadable mid-check: retry acquire
        alive = True
        if owner > 0:
            try:
                os.kill(owner, 0)
            except ProcessLookupError:
                alive = False
            except PermissionError:
                pass  # pid exists under another uid: treat as alive
        if alive and age <= _LOCK_STALE_SECS:
            return False  # genuinely held by a live builder
        try:
            os.unlink(lock)  # stale: reclaim, then re-arbitrate
        except FileNotFoundError:
            pass


def _release_pack_lock(lock: str) -> None:
    """Unlink ``lock`` only if THIS process still owns it: after a
    stale-owner reclaim the original (slow but alive) builder must
    not delete the reclaimer's lock on its own failure path — that
    would admit a third concurrent builder."""
    import os

    try:
        with open(lock) as fh:
            owner = int(fh.read().strip() or "-1")
    except (OSError, ValueError):
        return
    if owner == os.getpid():
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def _pack_sharded(ref: dict, kind: str, part_builder, finalize_builder,
                  final: str | None = None):
    """The executor pack of a blob: every python worker that needs it
    claims unpacked parquet parts (one lock file per part), decodes
    and saves its shards CONCURRENTLY with the other workers, then one
    worker finalizes the small global index arrays; every later task
    mmaps the saved files. Decode is the pack's dominant cost
    (measured 8-20 s for a 535 MB shingle blob — disk + Arrow
    assembly) and it is O(blob) while everything downstream is
    O(pairs): with W workers the wall cost is ~decode/W + finalize,
    where a whole-blob pack on one worker serialized it (the largest
    fixed cost in the N->4N scaling profile; 6x slower verify at
    local[32] when each worker packed for itself).

    ``part_builder(path) -> [arrays]`` packs one parquet part into the
    ``kind`` shards; ``finalize_builder(shard_arrays) -> [arrays]``
    builds the ``final`` pack (default: ``kind``) from them. Several
    finals can share one kind's shards, which are then decoded once.
    Locks whose owner died or that outlived ``_LOCK_STALE_SECS`` are
    reclaimed; a builder that raises releases its lock. Returns
    (final_arrays, shard_arrays) — all mmap'd, shared across the
    host's workers via the OS page cache."""
    import os
    import time as _time

    final = final or kind
    _prune_blob_cache()
    key = (kind, final, ref["tag"])
    if key in _BLOB_CACHE:
        return _BLOB_CACHE[key][0]
    parts = _blob_files(ref)
    root = _pack_root(ref["tag"])
    os.makedirs(root, exist_ok=True)

    def _save(base: str, arrays) -> None:
        pid = os.getpid()  # pid-unique tmps: post-reclaim double builds commute
        for i, arr in enumerate(arrays):
            path = f"{base}__{i:02d}.npy"
            np.save(f"{path}.tmp{pid}.npy", np.ascontiguousarray(arr))
            os.rename(f"{path}.tmp{pid}.npy", path)
        with open(f"{base}.done.tmp{pid}", "w") as fh:
            fh.write("ok")
        os.rename(f"{base}.done.tmp{pid}", base + ".done")

    def _mmap_group(base: str):
        d, prefix = os.path.split(base)
        names = sorted(
            f for f in os.listdir(d)
            if f.startswith(prefix + "__") and f.endswith(".npy")
        )
        return tuple(np.load(os.path.join(d, f), mmap_mode="r") for f in names)

    def _claim_build(base: str, builder, *args) -> bool:
        """Try to win ``base`` (stale-owner locks are reclaimed, see
        _acquire_pack_lock); returns True if this worker built it."""
        if not _acquire_pack_lock(base + ".lock", base + ".done"):
            return False
        try:
            _save(base, builder(*args))
        except BaseException:
            _release_pack_lock(base + ".lock")  # let another worker retry
            raise
        return True

    def _build_or_await(base: str, what: str, builder, *args) -> None:
        """Wait for ``base`` — re-attempting acquisition each poll, so
        a builder killed uncleanly (its lock goes stale) is TAKEN OVER
        by a waiter instead of every peer timing out (ADVICE r2)."""
        deadline = _time.time() + 600
        while not os.path.exists(base + ".done"):
            if _claim_build(base, builder, *args):
                return
            if _time.time() > deadline:
                raise TimeoutError(f"{what} pack of {base} never completed")
            _time.sleep(0.05)

    shard_base = [os.path.join(root, f"_shard_{kind}_{k:04d}") for k in range(len(parts))]
    for k, part in enumerate(parts):
        _claim_build(shard_base[k], part_builder, part)
    for k in range(len(parts)):
        _build_or_await(shard_base[k], "shard", part_builder, parts[k])

    final_base = os.path.join(root, f"_final_{final}")
    if not os.path.exists(final_base + ".done"):
        _build_or_await(
            final_base,
            "finalize",
            lambda: finalize_builder([_mmap_group(b) for b in shard_base]),
        )
    pack = (_mmap_group(final_base), [_mmap_group(b) for b in shard_base])
    _BLOB_CACHE[key] = (pack, root, ref["path"])
    return pack


def load_feats_segments(ref: dict):
    """Worker-side pack of an (id, array<long>) parquet blob —
    shard-parallel across the executor's python workers
    (``_pack_sharded``), mmap'd by every worker. NULL shingle rows
    pack as empty sets.

    Returns ``(ids_sorted, perm, row_shard, row_off, row_len,
    flats)``: flat values stay in PARQUET PART ORDER (one mmap'd
    array per part — re-gathering into id order was 9 s of the
    original 13.8 s single-worker pack); a record's row index is
    ``row = perm[searchsorted(ids_sorted, id)]`` and its values live
    at ``flats[row_shard[row]][row_off[row] : row_off[row] +
    row_len[row]]``."""

    id_col, payload_col = ref["id_col"], ref["payload_col"]

    def part_builder(path):
        ids, values, lens, _ = _read_id_payload_files([path], id_col, payload_col)
        return [ids, lens, values.astype(np.int64, copy=False)]

    def finalize_builder(shards):
        shards = shards or [(np.empty(0, np.int64),) * 2]
        ids_all = np.concatenate([s[0] for s in shards])
        lens_all = np.concatenate([s[1] for s in shards])
        row_shard = np.repeat(np.arange(len(shards), dtype=np.int64),
                              [len(s[0]) for s in shards])
        # each row's offset in its part: the exclusive prefix sum of lens
        row_off = np.concatenate([np.cumsum(s[1]) - s[1] for s in shards]).astype(np.int64)
        order = np.argsort(ids_all, kind="stable")
        return [ids_all[order], order.astype(np.int64), row_shard, row_off, lens_all]

    (ids_sorted, perm, row_shard, row_off, row_len), shard_groups = _pack_sharded(
        ref, "seg", part_builder, finalize_builder
    )
    flats = [g[2] for g in shard_groups]
    return ids_sorted, perm, row_shard, row_off, row_len, flats


class _ShardRows:
    """Lazy row provider over the mmap'd embedding shards: fancy
    indexing (``rows[c]`` with an int array) returns normalized f64
    rows, ``raw(c)`` the rows as stored, upcast to f64. Shards keep the
    blob's source dtype, so an f32 row upcasts losslessly and an f64
    row is read exactly — the values the Arrow path ships either way —
    and normalization is the row-wise arithmetic of a whole-matrix
    ``np.divide(m, norms, where=norms > 0)`` applied to just the
    gathered rows. No (n, dim) f64 matrix is ever built or written for
    the fused scan or the id-keyed gathers (at 100k x 128 that was a
    100 MB compute + 100 MB disk write per call)."""

    def __init__(self, flats, starts, nrm):
        self._flats = flats      # list of (n_k, dim) mmaps, non-empty
        self._starts = starts    # int64 start row of each shard
        self._nrm = nrm          # (n,) f64 row norms, global order

    def raw(self, idx) -> np.ndarray:
        idx = np.asarray(idx, dtype=np.int64)
        dim = self._flats[0].shape[1] if self._flats else 0
        out = np.empty((len(idx), dim), dtype=np.float64)
        if len(idx):
            sh = np.searchsorted(self._starts, idx, side="right") - 1
            for k in np.unique(sh):
                m = sh == k
                out[m] = self._flats[k][idx[m] - self._starts[k]]
        return out

    def __getitem__(self, idx):
        idx = np.asarray(idx, dtype=np.int64)
        out = self.raw(idx)
        # divide IN PLACE (one buffer, not a second zeros allocation —
        # gathers run inside the rescore hot loop): rows with nr <= 0
        # are all-zero raw vectors, zeroed explicitly to mirror the
        # whole-matrix np.divide(..., where=) semantics bit-for-bit
        nr = self._nrm[idx][:, None]
        pos = nr > 0
        np.divide(out, nr, out=out, where=pos)
        if not pos.all():
            out[~pos.ravel()] = 0.0
        return out


def _emb_part_builder(id_col: str, payload_col: str):
    """Shard pack of one (id, embedding) part: (ids, (n, dim) values in
    the source dtype). NULL embedding rows are dropped (NULL-cosine
    never pairs or ranks); ragged rows raise."""

    def build(path):
        ids, values, lens, null_rows = _read_id_payload_files([path], id_col, payload_col)
        if null_rows.any():
            keep = ~null_rows
            ids, lens = ids[keep], lens[keep]
        if len(ids) == 0:
            return [ids, np.zeros((0, 0), dtype=values.dtype)]
        dim = int(lens[0])
        if not (lens == dim).all():
            bad = int(np.argmax(lens != dim))
            raise ValueError(
                f"ragged embeddings: row id={ids[bad]} has dim {lens[bad]}, "
                f"expected {dim}"
            )
        return [ids, values.reshape(-1, dim)]

    return build


def _emb_shards(shards):
    """The non-empty embedding shards; raises on ragged dims across parts."""
    shards = [s for s in shards if len(s[0])]
    dims = {s[1].shape[1] for s in shards}
    if len(dims) > 1:
        raise ValueError(f"ragged embeddings across parts: dims {sorted(dims)}")
    return shards


def _final_scan(shards):
    """Fused threshold scan pack: [ids, f64 row norms, f32 tiles]."""
    shards = _emb_shards(shards)
    if not shards:
        return [np.empty(0, np.int64), np.zeros(0), np.zeros((0, 0, 0), np.float32)]
    ids = np.concatenate([s[0] for s in shards])
    blocks = _new_blocks(len(ids), shards[0][1].shape[1])
    nrm = np.empty(len(ids), dtype=np.float64)
    r0 = 0
    for s in shards:
        an, nr = _normalize_rows(np.asarray(s[1]).astype(np.float64))
        nrm[r0 : r0 + len(nr)] = nr
        _fill_blocks(blocks, an, r0)
        r0 += len(nr)
    return [ids, nrm, blocks]


def _final_topk(shards):
    """Exact top-k pack: [ids, f64 normalized TRANSPOSED (dim x n)
    matrix, nonzero-norm mask]. The transposed layout is the gemm B
    operand's 3.6x layout win; top-k stays f64 because the ORDER near
    the k-th boundary is the result."""
    shards = _emb_shards(shards)
    if not shards:
        return [np.empty(0, np.int64), np.zeros((0, 0)), np.zeros(0, dtype=bool)]
    ids = np.concatenate([s[0] for s in shards])
    mnT = np.empty((shards[0][1].shape[1], len(ids)), dtype=np.float64)
    nz = np.empty(len(ids), dtype=bool)
    r0 = 0
    for s in shards:
        an, nr = _normalize_rows(np.asarray(s[1]).astype(np.float64))
        mnT[:, r0 : r0 + len(nr)] = an.T
        nz[r0 : r0 + len(nr)] = nr > 0
        r0 += len(nr)
    return [ids, mnT, nz]


def _final_keyed(shards):
    """Id-keyed gather pack: [ids_sorted, perm, f64 row norms]."""
    shards = _emb_shards(shards)
    if not shards:
        return [np.empty(0, np.int64), np.empty(0, np.int64), np.zeros(0)]
    ids = np.concatenate([s[0] for s in shards])
    nrm = np.concatenate(
        [np.linalg.norm(np.asarray(s[1]).astype(np.float64), axis=1) for s in shards])
    order = np.argsort(ids, kind="stable")
    return [ids[order], order.astype(np.int64), nrm]


_EMB_FINALS = {"scan": _final_scan, "topk": _final_topk, "keyed": _final_keyed}


def load_feats_rows(ref: dict, kind: str):
    """Worker-side pack of an (id, array<float|double>) blob for the
    consumer ``kind``. The parts decode once (``_pack_sharded``) into
    shards that keep the source dtype — every kind of one blob shares
    them — and each kind finalizes its own small pack:

    * ``"scan"`` -> ``(ids, rows, nz, blocks)``: the fused threshold
      scan's f32 tiles (``kernels._build_blocks`` values) with ids in
      parquet part order;
    * ``"topk"`` -> ``(ids, mnT, nz)``: the exact top-k's f64
      normalized transposed matrix, ids in part order;
    * ``"keyed"`` -> ``(ids_sorted, perm, rows, nrm)``: id-keyed
      gathers (the IVF id-only plan, ``verify_cosine``): id ``x`` lives
      at row ``perm[searchsorted(ids_sorted, x)]``.

    ``rows`` is a ``_ShardRows`` over the shards, so the f64 rescore of
    the fused kernels reads exact source values; ``nrm`` are f64 row
    norms and ``nz`` = norm > 0, in part order. NULL embedding rows are
    dropped (their ids are absent); ragged rows raise."""
    final, groups = _pack_sharded(
        ref, "emb", _emb_part_builder(ref["id_col"], ref["payload_col"]),
        _EMB_FINALS[kind], kind,
    )
    if kind == "topk":
        return final
    flats = [g[1] for g in groups if len(g[0])]
    starts = np.concatenate(
        ([0], np.cumsum([f.shape[0] for f in flats])[:-1])
    ).astype(np.int64) if flats else np.zeros(1, dtype=np.int64)
    if kind == "scan":
        ids, nrm, blocks = final
        nrm = np.asarray(nrm)
        return ids, _ShardRows(flats, starts, nrm), nrm > 0, blocks
    ids_sorted, perm, nrm = final
    nrm = np.asarray(nrm)
    return np.asarray(ids_sorted), np.asarray(perm), _ShardRows(flats, starts, nrm), nrm
