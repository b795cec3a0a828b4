"""Spark exact stage vs oracle semantics on the synthetic corpus."""

from pyspark.sql import functions as F

from semhash_spark.operators.exact import cross_exact_split, self_exact_dedup
from semhash_spark.sources.corpus import generate_corpus, truth_exact_pairs
from tests.oracle import remove_exact_duplicates

N = 300
COLS = ("content",)


def _rows(df):
    return sorted(
        [r.asDict() for r in df.collect()], key=lambda d: d["record_id"]
    )


def test_self_exact_matches_oracle(spark):
    corpus = generate_corpus(spark, N, seed=42).cache()
    keyed = self_exact_dedup(corpus, COLS)
    got_dups = {
        (int(r["record_id"]), int(r["exemplar_id"]))
        for r in keyed.where(F.col("is_exact_dup")).collect()
    }
    # oracle: first-occurrence-wins over record_id order
    rows = _rows(corpus)
    dedup, dups = remove_exact_duplicates(rows, COLS)
    first_by_content = {}
    want = set()
    for d in rows:
        c = d["content"]
        if c in first_by_content:
            want.add((d["record_id"], first_by_content[c]))
        else:
            first_by_content[c] = d["record_id"]
    assert got_dups == want
    # planted truth is a subset
    assert set(truth_exact_pairs(N)) <= got_dups
    # selected + dups partition the input
    n_sel = keyed.where(~F.col("is_exact_dup")).count()
    assert n_sel + len(got_dups) == N


def test_cross_exact_split(spark):
    corpus = generate_corpus(spark, N, seed=42).cache()
    query = corpus.where(F.col("record_id") % 2 == 1)
    index = corpus.where(F.col("record_id") % 2 == 0)
    kept, dups = cross_exact_split(query, index, COLS)
    # oracle
    q_rows, i_rows = _rows(query), _rows(index)
    items = [[r] for r in i_rows]
    # seen-map keyed on content with exemplar = first index row
    from tests.oracle import build_items

    i_items = build_items(i_rows, COLS)
    o_kept, o_dups = remove_exact_duplicates(q_rows, COLS, i_items)
    assert kept.count() == len(o_kept)
    assert dups.count() == len(o_dups)
    assert {int(r["record_id"]) for r in kept.collect()} == {
        r["record_id"] for r in o_kept
    }
    # sha256 invariant: content untouched through the stage
    inv = (
        kept.select("record_id", F.sha2("content", 256).alias("h"))
        .join(
            query.select("record_id", F.sha2("content", 256).alias("h0")),
            "record_id",
        )
        .where(F.col("h") != F.col("h0"))
        .count()
    )
    assert inv == 0


def test_with_record_id_natural_key(spark):
    from semhash_spark.operators.ids import with_record_id
    from pyspark.sql import functions as F
    import pytest

    df = spark.createDataFrame(
        [("r1", "a.py", "c1"), ("r1", "b.py", "c1"), ("r2", "a.py", "c2")],
        "repo string, path string, commit string",
    )
    out = with_record_id(df, natural_key=["repo", "path", "commit"])
    ids = [r.record_id for r in out.collect()]
    assert len(set(ids)) == 3 and all(i >= 0 for i in ids)
    # partition-independence: same ids at any layout
    out2 = with_record_id(df.repartition(5), natural_key=["repo", "path", "commit"])
    assert set(ids) == {r.record_id for r in out2.collect()}
    # non-unique key -> collision error
    dup = spark.createDataFrame([("x",), ("x",)], "k string")
    with pytest.raises(ValueError, match="collision"):
        with_record_id(dup, natural_key=["k"])


def test_index_key_table_reuse_matches_recompute(spark):
    """cross_exact_split with a precomputed (cached) index key table
    must split identically to the per-call recompute path."""
    from semhash_spark.operators.exact import cross_exact_split, index_key_table

    idx = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "a"), (3, "c")], "record_id long, text string"
    )
    q = spark.createDataFrame(
        [(10, "a"), (11, "z"), (12, "c")], "record_id long, text string"
    )
    keys = index_key_table(idx, ("text",)).persist()
    try:
        k1, d1 = cross_exact_split(q, idx, ("text",))
        k2, d2 = cross_exact_split(q, idx, ("text",), index_keys=keys)
        assert sorted(r.record_id for r in k1.collect()) == sorted(
            r.record_id for r in k2.collect()
        ) == [11]
        got1 = {(r.record_id, r.exemplar_id) for r in d1.collect()}
        got2 = {(r.record_id, r.exemplar_id) for r in d2.collect()}
        assert got1 == got2 == {(10, 0), (12, 3)}
    finally:
        keys.unpersist()


def test_api_idx_keys_projection_matches_index_key_table(spark):
    """dedup.build_index derives a fit's key table as a
    projection of the persisted exemplars (each exact group's min-id
    row IS its exemplar); it must equal index_key_table over the full
    fitted frame, including under exact-duplicate groups."""
    from semhash_spark.api import SparkSemHash
    from semhash_spark.config import DedupConfig
    from semhash_spark.operators.exact import index_key_table

    idx = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "a"), (3, "c"), (4, "b"), (5, "b")],
        "record_id long, text string",
    )
    sh = SparkSemHash(DedupConfig(columns=("text",)), mode="minhash").fit(idx)
    try:
        sh._build_cross_memos()
        got = {(r.exact_key, r.exemplar_id) for r in sh._index.keys.collect()}
        want = {
            (r.exact_key, r.exemplar_id)
            for r in index_key_table(idx, ("text",)).collect()
        }
        assert got == want and len(got) == 3
    finally:
        sh.release()


def test_self_exact_dedup_with_key_false_matches(spark):
    """with_key=False must produce the identical annotation minus the
    exact_key column (the wide branch skips its sha pass)."""
    df = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "a"), (3, "c"), (4, "b"), (5, "b")],
        "record_id long, text string",
    )
    full = self_exact_dedup(df, ("text",))
    slim = self_exact_dedup(df, ("text",), with_key=False)
    assert "exact_key" in full.columns and "exact_key" not in slim.columns
    want = {(r.record_id, r.exemplar_id, r.is_exact_dup) for r in full.collect()}
    got = {(r.record_id, r.exemplar_id, r.is_exact_dup) for r in slim.collect()}
    assert got == want
