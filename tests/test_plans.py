"""Physical-plan audits: the properties the 100 TB design depends on
must be visible in the executed plan, not just asserted in prose.

(The filter_outliers no-Window/no-SinglePartition audit lives in
tests/test_rank.py.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from semhash_spark.operators.exact import self_exact_dedup
from semhash_spark.sources.tables import documents


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_column_pruning(spark, sf_dir):
    """A projection must reach the scan: reading 2 columns of the
    documents table cannot deserialize the text payload."""
    df = documents(spark, sf_dir).select("doc_id", "lang")
    plan = _plan(df)
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "doc_id" in scan[0] and "lang" in scan[0]
    assert "text" not in scan[0]


def test_parquet_predicate_pushdown(spark, sf_dir):
    df = documents(spark, sf_dir).where(F.col("doc_id") < 10).select("doc_id")
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "LessThan(doc_id,10)" in pushed.replace(" ", "")


def test_exact_stage_broadcasts_annotation(spark, sf_dir):
    """The duplicate annotation (small relation) joins back to the
    wide rows via BroadcastHashJoin — the corpus never shuffles on
    the exact key (content stays where it was read)."""
    docs = documents(spark, sf_dir)
    keyed = self_exact_dedup(docs, ("lang", "source"), "record_id")
    plan = _plan(keyed)
    assert "BroadcastHashJoin" in plan
    # the wide side must not be exchanged on exact_key: every
    # hashpartitioning exchange in this plan is on the projection
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "exact_key" in ln:
            # the (id, key) projection shuffle is allowed; it must
            # not carry the text payload
            assert "text" not in ln


def _exchange_outputs(df) -> list[tuple[str, list[str]]]:
    """(node name, output column names) of every Exchange — shuffle or
    broadcast — in the physical plan, i.e. what each one carries."""
    node = df._jdf.queryExecution().executedPlan()
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    found, stack = [], [node]
    while stack:
        node = stack.pop()
        if "Exchange" in node.nodeName():
            out = node.output()
            found.append((node.nodeName(),
                          [out.apply(i).name() for i in range(out.size())]))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return found


def test_band_shuffle_carries_ids_and_hashes_only(spark, sf_dir, monkeypatch):
    """Band-table exchanges ship (record_id, band_idx, band_hash) —
    never the text/shingles/signature payloads. The same holds for the
    plans that verify inside the bucket generator (self-dedup minhash
    edges, containment edges): no Exchange carries ``shingles`` or
    ``sig``, and no broadcast (hash-join build side) carries shingle
    arrays — the scorer reads them from the mmap'd blob. Those plans run
    inside the calls, so they are audited as built."""
    from semhash_spark.config import DedupConfig
    from semhash_spark.functions.hashing import minhash_signature, shingle_hashes
    from semhash_spark.operators import lsh
    from semhash_spark.operators.containment import containment_edges
    from semhash_spark.operators.dedup import _edges_minhash
    from semhash_spark.operators.lsh import band_table, candidate_pairs_self

    docs = documents(spark, sf_dir).select(
        "record_id", shingle_hashes("text", 3).alias("shingles")
    )
    feats = docs.withColumn("sig", minhash_signature("shingles", 16)).persist()
    bt = band_table(feats, "sig", 4, "record_id", 4)
    cands = candidate_pairs_self(bt, 1000, "record_id")
    plan = _plan(cands)
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln and "shingles" not in ln and "sig#" not in ln, ln

    cfg = DedupConfig(columns=("text",), threshold=0.8, shingle_k=3, num_perm=16,
                      bands=4, containment_threshold=0.9, anchor_mod=4)
    verified: list = []

    def recording(*args, **kwargs):
        df = candidate_pairs_self(*args, **kwargs)
        if kwargs.get("pack") is not None:
            verified.append(df)
        return df

    monkeypatch.setattr(lsh, "candidate_pairs_self", recording)
    _edges_minhash(feats, cfg, "record_id", 0.8)
    containment_edges(feats.select("record_id", "shingles"), cfg, "record_id")
    # both calls really verified in the generator (no fallback)
    assert len(verified) == 2
    plans = {"candidates": cands, "minhash_edges": verified[0],
             "containment_edges": verified[1]}
    for name, df in plans.items():
        exchanges = _exchange_outputs(df)
        assert exchanges, name
        for node, cols in exchanges:
            assert not {"text", "shingles", "sig"} & set(cols), (name, node, cols)
    feats.unpersist()


def test_cross_cap_plan_is_sort_free(spark):
    """The cross-mode bucket cap must be a pure map-side filter: no
    Window, no per-bucket Sort anywhere in the candidate plan (a
    row_number top-cap would put a 10^9-member bucket in one task)."""
    from semhash_spark.operators.lsh import candidate_pairs_cross

    q = spark.range(100).select(
        (F.col("id") % 4).cast("int").alias("band_idx"),
        (F.col("id") % 7).alias("band_hash"),
        F.col("id").alias("record_id"),
    )
    i = spark.range(500).select(
        (F.col("id") % 4).cast("int").alias("band_idx"),
        (F.col("id") % 7).alias("band_hash"),
        F.col("id").alias("record_id"),
    )
    cands = candidate_pairs_cross(q, i, "record_id", bucket_cap=10)
    plan = _plan(cands)
    assert "Window" not in plan, plan
    # the only sorts allowed are SortMergeJoin operator sorts, which
    # sort within hash-partitioned join partitions — never a
    # per-bucket global ordering
    assert "row_number" not in plan
