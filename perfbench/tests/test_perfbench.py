"""Tiny-input tests of the benchmark's own parts: the event-log
aggregation, the tracer's stage hook, the exact-similarity oracle,
and the recall computation.

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import eventlog
import oracle
import workloads


def _job(job_id, group, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages,
            "Properties": {"spark.jobGroup.id": group} if group else {}}


def _task(stage, run_ms, gc_ms=0, shuffle=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Executor Run Time": run_ms, "JVM GC Time": gc_ms, "Disk Bytes Spilled": spill,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}


def test_group_metrics_sums_tasks_per_job_group():
    events = [
        _job(0, "operators.lsh", [0, 1]),
        _task(0, 100, gc_ms=10, shuffle=2_000_000),
        _task(0, 300, shuffle=1_000_000),
        _task(1, 1000), _task(1, 1000), _task(1, 4000),
        _job(1, "operators.verify", [1, 2]),  # stage 1 stays with its first group
        _task(2, 500, spill=3_000_000),
        _job(2, None, [3]),
        _task(3, 9999),  # outside any span: not attributed
    ]
    g = eventlog.group_metrics(events)
    assert set(g) == {"operators.lsh", "operators.verify"}
    lsh = g["operators.lsh"]
    assert lsh["executor_s"] == pytest.approx(6.4)
    assert lsh["gc_s"] == pytest.approx(0.01)
    assert lsh["shuffle_write_mb"] == pytest.approx(3.0)
    assert lsh["tasks"] == 5
    # skew is taken in the heaviest stage (stage 1): max 4000 / median 1000
    assert lsh["task_skew"] == pytest.approx(4.0)
    verify = g["operators.verify"]
    assert verify["spill_mb"] == pytest.approx(3.0)
    assert verify["task_skew"] == pytest.approx(1.0)


def test_oracle_similarities():
    a = oracle.shingles("a b c d e f", 3)
    b = oracle.shingles("a b c d x y", 3)
    assert a == {("a", "b", "c"), ("b", "c", "d"), ("c", "d", "e"), ("d", "e", "f")}
    assert oracle.jaccard(a, b) == pytest.approx(2 / 6)
    assert oracle.containment(oracle.shingles("b c d e", 3), a) == 1.0
    assert oracle.shingles("a b", 3) == {("a", "b")}
    assert oracle.shingles("  ", 3) == frozenset()


def test_cluster_roots_follow_exemplar_chains():
    # 1 is an exact copy of 0, which sits in the cluster rooted at 3
    roots = oracle.cluster_roots(range(6), [(1, 0), (0, 3), (4, 3)])
    assert roots == {0: 3, 1: 3, 2: 2, 3: 3, 4: 3, 5: 5}
    with pytest.raises(ValueError):
        oracle.cluster_roots(range(2), [(0, 1), (1, 0)])


def test_recall_on_tiny_planted_corpus():
    n = 300
    pairs = oracle.planted_pairs(n)
    # per century: exact (0,1), near cluster {0,2,3}, fragment (0,5)
    assert len(pairs) == 3 * 5
    assert (100, 101) in pairs and (102, 103) in pairs and (200, 205) in pairs
    perfect = oracle.cluster_roots(range(n), [(b, a) for a, b in pairs])
    assert oracle.recall(pairs, lambda a, b: perfect[a] == perfect[b]) == 1.0
    missing_one = oracle.cluster_roots(range(n), [(b, a) for a, b in pairs if (a, b) != (200, 205)])
    got = oracle.recall(pairs, lambda a, b: missing_one[a] == missing_one[b])
    assert got == pytest.approx(14 / 15)
    assert oracle.recall([], lambda a, b: False) == 1.0


class _FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, _description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


class _FakeFrame:
    def __init__(self, rows, sc, seen):
        self.rows, self.sc, self.seen = rows, sc, seen
        self.persisted = False

    def persist(self):
        self.persisted = True
        return self

    def unpersist(self):
        self.persisted = False

    def count(self):
        self.seen.append(self.sc.group)
        return self.rows

    def select(self, *_):
        return self

    def distinct(self):
        return _FakeFrame(2, self.sc, self.seen)


def test_tracer_stage_materializes_each_library_stage_in_its_layer():
    sc, seen = _FakeContext(), []
    tr = workloads.Tracer(sc)
    frames = {name: _FakeFrame(10 + i, sc, seen)
              for i, name in enumerate(("exact", "features_minhash", "candidates_minhash",
                                        "edges_minhash", "clusters_minhash"))}
    for name, df in frames.items():
        assert tr.stage(name, lambda df=df: df) is df
        assert df.persisted
    tr.write_metrics()
    assert seen == ["operators.exact", "functions.hashing", "operators.lsh",
                    "operators.verify", "operators.components", None]
    assert tr.layers["operators.lsh"]["rows"] == 12
    assert tr.counters == {"operators.lsh.pairs": 12, "operators.verify.edges": 13,
                           "operators.components.clusters": 2}
    assert sc.group is None
    tr.release()
    assert not any(df.persisted for df in frames.values()) and tr.held == []
    with pytest.raises(KeyError):
        tr.stage("features_simhash", lambda: frames["exact"])


def test_per_layer_names_match_benchmark_json():
    path = os.path.join(os.path.dirname(workloads.__file__), os.pardir, "BENCHMARK.json")
    with open(path) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == workloads.per_layer_units()
    for w in bench["workloads"]:
        wl = workloads.WORKLOADS[w["name"]]
        assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == wl.end_to_end


@pytest.fixture(scope="module")
def spark_with_log(tmp_path_factory):
    from semhash_spark.session import get_spark

    log_dir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark("perfbench-tests", cores=2, shuffle_partitions=2, driver_memory="1g",
                      extra_conf={"spark.eventLog.enabled": "true",
                                  "spark.eventLog.dir": "file://" + str(log_dir),
                                  "spark.eventLog.compress": "false",
                                  "spark.eventLog.rolling.enabled": "false"})
    yield spark, str(log_dir)
    spark.stop()


def test_oracle_agrees_with_engine_and_event_log_groups(spark_with_log):
    from pyspark.sql import functions as F

    from semhash_spark.functions.hashing import shingle_hashes
    from semhash_spark.operators.verify import containment_score, jaccard_similarity
    from semhash_spark.sources.corpus import generate_corpus

    spark, log_dir = spark_with_log
    tr = workloads.Tracer(spark.sparkContext)
    with tr.span("operators.verify") as s:
        corpus = generate_corpus(spark, 200, seed=3).persist()
        s["rows"] = corpus.count()
        sh = corpus.select("record_id", "content", shingle_hashes("content", 5).alias("s"))
        pairs = [(a, b) for a, b in oracle.planted_pairs(200)] + [(4, 17), (10, 11)]
        pdf = spark.createDataFrame(pairs, "a long, b long")
        scored = (pdf.join(sh.select(F.col("record_id").alias("a"), F.col("s").alias("sa")), "a")
                  .join(sh.select(F.col("record_id").alias("b"), F.col("s").alias("sb")), "b")
                  .select("a", "b", jaccard_similarity("sa", "sb").alias("j"),
                          containment_score("sa", "sb").alias("c"))
                  .collect())
    contents = {int(r["record_id"]): r["content"] for r in corpus.collect()}
    orc = oracle.TextOracle(contents, 5)
    assert len(scored) == len(pairs)
    for r in scored:
        assert r["j"] == pytest.approx(orc.jaccard(r["a"], r["b"]), abs=1e-12)
        assert r["c"] == pytest.approx(orc.containment(r["a"], r["b"]), abs=1e-12)
    groups = orc.exact_groups(contents)
    assert {i for i, g in groups.items() if g != i} == {1, 101}
    assert tr.layers["operators.verify"]["rows"] == 200

    spark.stop()  # closes the event log
    g = eventlog.group_metrics(eventlog.read_log(log_dir))
    assert set(g) == {"operators.verify"}
    assert g["operators.verify"]["tasks"] > 0
    assert g["operators.verify"]["executor_s"] > 0
