"""Distributed connected components (alternating large-star/small-star).

The reference resolves duplicate clusters with a greedy in-order
seen-set scan on the driver (semhash/semhash.py:251-290). At
10^12-row scale the equivalent is connected components over the
verified duplicate-edge graph with ``cluster_id = min(record_id)``
in each component — exemplar = cluster root, matching the
reference's first-occurrence-wins intent (SURVEY.md §2.5 D2).

Algorithm: the two-phase star contraction of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SOCC 2014) —
O(log n) rounds even on chain graphs, each round two hash shuffles
(groupBy min + join). Lineage is truncated every round with
``localCheckpoint`` (on a cluster: checkpoint to the job's
checkpoint dir) so plan size stays O(1) across iterations.

Edge sets up to ``DRIVER_CC_CAP`` resolve on the driver instead
(``labels``, numpy). ``self_deduplicate`` calls it on the edges it
already holds there; ``connected_components`` probes for the edges
only when the caller does not hold them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sym(e: DataFrame) -> DataFrame:
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def _large_star(e: DataFrame) -> DataFrame:
    # for each u: m = min(N(u) ∪ {u}); emit (v, m) for v in N(u), v > u
    sym = _sym(e)
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    mins = mins.select("src", F.least("mn", "src").alias("m"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # orient edges (u, v) with v <= u; m = min(N(u) ∪ {u}) = min(N(u));
    # emit (v, m) for v in N(u) ∪ {u} \ {m}
    o = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = o.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = (
        o.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        nbr_edges.union(self_edges)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _checksum(e: DataFrame) -> tuple[int, int]:
    # bit_xor is overflow-free under ANSI mode; edges are distinct so
    # xor-cancellation of repeated rows cannot occur.
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


# verified-edge sets at or below this size resolve on the driver
# (numpy min-label propagation + pointer jumping) — the edge relation
# after verification is just the duplicate pairs, typically orders of
# magnitude smaller than the input; skipping the per-round Spark
# barriers removes most of the pipeline's serial fraction.
DRIVER_CC_CAP = 5_000_000


def labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, labels) of an undirected edge list on the driver: every
    node appearing in ``src``/``dst`` (sorted, unique) and the min node
    id of its component. Min-label propagation with pointer jumping
    (labels are node ids, so chasing one hop per round gives O(log n)
    rounds even on chains); duplicate edges are harmless."""
    nodes = np.unique(np.concatenate([src, dst]).astype(np.int64))
    si = np.searchsorted(nodes, src)
    di = np.searchsorted(nodes, dst)
    lab = nodes.copy()
    while True:
        before = lab.copy()
        m = np.minimum(lab[si], lab[di])
        np.minimum.at(lab, si, m)
        np.minimum.at(lab, di, m)
        lab = np.minimum(lab, lab[np.searchsorted(nodes, lab)])
        if np.array_equal(lab, before):
            return nodes, lab


def label_frame(spark, nodes: np.ndarray, lab: np.ndarray, id_col: str) -> DataFrame:
    """The (id_col, cluster_id) frame of ``labels``, shipped through Arrow."""
    return spark.createDataFrame(pa.table({id_col: nodes, "cluster_id": lab}))


def connected_components(
    edges: DataFrame, id_col: str = "record_id", max_iter: int = 50,
    driver_cap: int = DRIVER_CC_CAP,
    stats: dict | None = None,
) -> DataFrame:
    """Components of an undirected edge list (columns ``src``, ``dst``).

    Returns (id_col, cluster_id) for every node APPEARING IN EDGES;
    cluster_id = min node id of the component. Isolated nodes are
    absent — callers left-join and coalesce to the node's own id.
    Edge sets up to ``driver_cap`` resolve with driver-side numpy
    label propagation (``labels``); larger ones run the distributed
    alternating large-star/small-star rounds (``star_components``).

    The driver path is ONE probe job: ``limit(cap+1).toArrow`` both
    establishes the size and delivers the edges. ``self_deduplicate``
    reads the edges it already holds on the driver (``blob.held``)
    and calls ``labels`` itself, so this probe serves only callers
    whose edges are not held. The numpy propagation tolerates
    duplicate edges, so the probe skips ``distinct``/
    ``localCheckpoint``; only the star rounds pay for them. Accepted
    tradeoff: when the edge set DOES overflow, the probe ships cap+1
    rows (~80 MB at the default cap) to the driver and discards them —
    a one-off cost dwarfed by the distributed rounds that follow.

    ``stats`` (optional dict) is filled with the path taken and, on
    the star path, per-round wall seconds + per-round edge counts —
    the instrumentation behind tools/cc_scale_bench.py.
    """
    base = edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).where(F.col("src") != F.col("dst"))
    probe = base.limit(driver_cap + 1).toArrow()
    if probe.num_rows <= driver_cap:
        if stats is not None:
            stats["path"] = "driver"
            stats["n_edges_probe"] = probe.num_rows
        nodes, lab = labels(probe["src"].to_numpy(), probe["dst"].to_numpy())
        return label_frame(edges.sparkSession, nodes, lab, id_col)
    return star_components(base, id_col, max_iter, stats)


def star_components(
    base: DataFrame, id_col: str = "record_id", max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """The distributed rounds of ``connected_components`` over ``base``,
    long (src, dst) edges without self-loops: (id_col, cluster_id) of
    every node in them."""
    import time as _time

    if stats is not None:
        stats["path"] = "star"
        stats["rounds_sec"] = []
        stats["rounds_edges"] = []
    t0 = _time.perf_counter()
    e = base.distinct().localCheckpoint(eager=True)
    prev = _checksum(e)
    if stats is not None:
        stats["dedup_checkpoint_sec"] = round(_time.perf_counter() - t0, 3)
        stats["n_edges_distinct"] = prev[0]
    for _ in range(max_iter):
        t0 = _time.perf_counter()
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        cur = _checksum(e)
        if stats is not None:
            stats["rounds_sec"].append(round(_time.perf_counter() - t0, 3))
            stats["rounds_edges"].append(cur[0])
        if cur == prev:
            break
        prev = cur

    # converged: edges are (child -> root). Roots appear only as dst.
    children = e.select(F.col("src").alias(id_col), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias(id_col), F.col("dst").alias("cluster_id")).distinct()
    return children.union(roots).distinct()
