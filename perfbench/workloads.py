"""The benchmark's workloads: what one pass calls, what it outputs, the
traced pass that times each layer, and the oracle checks.

A pass calls SemHash's public entry points and ends once its results
are materialized on the driver. Its outputs are reduced to counts plus
a fingerprint of the filtered rows, so passes can be compared exactly
with each other, with the traced pass and with the pinned values.
"""

from __future__ import annotations

import hashlib
import math
import time
from contextlib import contextmanager

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semhash_spark.config import DedupConfig

ID = "record_id"

# the bench.py configs: code near-duplicates on 5-word shingles, and the
# bigram hashing encoder at the cosine threshold
CODE_CFG = DedupConfig(columns=("content",), threshold=0.8, shingle_k=5,
                       num_perm=128, bands=32)
COS_CFG = DedupConfig(columns=("content",), threshold=0.75, embedding_dim=128,
                      embedding_ngram=2, hyperplane_bits=2048, hyperplane_bands=128)

LAYERS = (
    "sources.corpus",
    "operators.exact",
    "functions.hashing",
    "functions.encoder",
    "operators.containment",
    "operators.lsh",
    "operators.verify",
    "operators.components",
    "datamodels",
    "operators.rank",
    "api.fit",
)
LAYER_FIELDS = {
    "wall_s": "s", "rows": "count", "executor_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "task_skew": "ratio",
}
EXTRA_LAYER_METRICS = {
    "operators.lsh.pairs": "count",
    "operators.verify.edges": "count",
    "operators.verify.pass_ratio": "ratio",
    "operators.containment.edges": "count",
    "operators.components.clusters": "count",
    "operators.verify.scratch_mb": "MB",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = {f"{layer}.{f}": unit for layer in LAYERS for f, unit in LAYER_FIELDS.items()}
    out.update(EXTRA_LAYER_METRICS)
    return out


# self_deduplicate's checkpoint stages, by the layer each one runs
STAGE_LAYERS = {
    "exact": "operators.exact",
    "features_minhash": "functions.hashing",
    "features_cosine": "functions.encoder",
    "candidates_minhash": "operators.lsh",
    "edges_minhash": "operators.verify",
    "edges_cosine": "operators.verify",
    "clusters_minhash": "operators.components",
    "clusters_cosine": "operators.components",
}


class Tracer:
    """Times each layer call under its own Spark job group, so the event
    log's task metrics can be grouped by layer afterwards.

    It is also a checkpointer for ``self_deduplicate``: the library calls
    ``stage(name, build)`` around each of its stages, so the traced pass
    runs the library's own code with every stage materialized in its
    layer's span."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.layers: dict[str, dict] = {}
        self.counters: dict[str, float] = {}
        self.held: list[DataFrame] = []

    @contextmanager
    def span(self, layer: str):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        rec = {"rows": 0}
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            agg = self.layers.setdefault(layer, {"wall_s": 0.0, "rows": 0})
            agg["wall_s"] += wall
            agg["rows"] += rec["rows"]

    def keep(self, df: DataFrame) -> DataFrame:
        """Persist ``df`` until ``release``."""
        self.held.append(df.persist())
        return self.held[-1]

    def stage(self, name: str, build) -> DataFrame:
        """Build one ``self_deduplicate`` stage in its layer's span,
        persisted (the library persists these itself when it has no
        checkpointer) and counted."""
        layer = STAGE_LAYERS[name]
        with self.span(layer) as s:
            df = self.keep(build())
            s["rows"] = df.count()
        if layer == "operators.lsh":
            self.counters["operators.lsh.pairs"] = s["rows"]
        elif layer == "operators.verify":
            self.counters["operators.verify.edges"] = s["rows"]
        elif layer == "operators.components":
            self.counters["operators.components.clusters"] = (
                df.select("cluster_id").distinct().count())
        return df

    def write_metrics(self) -> None:
        """Called by ``self_deduplicate`` at its end; nothing to write."""

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held = []


def _fingerprint(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(int(v) for v in row) for row in rows):
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def _self_outputs(n_sel: int, fil, pairs) -> dict:
    """Outputs of one self-dedup result: ``fil`` is a pandas frame of
    (record_id, exemplar_id, exact), ``pairs`` of the non-exact
    (dup_id, other_id, score) rows."""
    return {
        "counts": {
            "selected": int(n_sel),
            "filtered": int(len(fil)),
            "exact": int(fil["exact"].sum()),
            "edges": int(len(pairs)),
        },
        "fingerprint": _fingerprint(fil[[ID, "exemplar_id", "exact"]].itertuples(index=False)),
        "filtered": fil,
        "pairs": pairs,
    }


def _materialize_self(res) -> tuple[int, object]:
    """The end of a timed self-dedup pass: selected counted, filtered
    rows collected."""
    n_sel = res.selected.count()
    fil = res.filtered.select(ID, "exemplar_id", "exact").toPandas()
    return n_sel, fil


def _semantic_pairs(res):
    return (res.pairs.where(~F.col("exact"))
            .select("dup_id", "other_id", "score").toPandas())


class Workload:
    """One workload in one Spark session. Subclasses define the pass."""

    name = ""
    n_files = 0
    # end-to-end metric names this workload reports, with units
    end_to_end: dict[str, str] = {}

    def __init__(self, spark, seed: int, n_files: int | None = None) -> None:
        self.spark = spark
        self.seed = seed
        if n_files is not None:  # a smaller corpus, for warm-up passes
            self.n_files = n_files
        self.corpus: DataFrame | None = None
        self._contents: dict[int, str] | None = None

    def generate(self) -> DataFrame:
        from semhash_spark.sources.corpus import generate_corpus

        return generate_corpus(self.spark, self.n_files, seed=self.seed)

    def setup(self) -> None:
        self.corpus = self.generate().persist()
        self.corpus.count()

    def contents(self) -> dict[int, str]:
        if self._contents is None:
            pdf = self.corpus.select(ID, "content").toPandas()
            self._contents = dict(zip(pdf[ID].astype(int), pdf["content"]))
        return self._contents

    def comparable(self, out: dict) -> dict:
        """The part of a pass's outputs that must repeat exactly."""
        return {"counts": out["counts"], "fingerprint": out["fingerprint"]}

    def teardown(self) -> None:
        if self.corpus is not None:
            self.corpus.unpersist()


class SelfDedupMinhash(Workload):
    """``containment_edges`` on 5-word shingles feeding
    ``self_deduplicate(mode="minhash", extra_edges=...)``."""

    name = "selfdedup_minhash"
    n_files = 3000
    end_to_end = {"setup_s": "s", "files_per_s": "1/s",
                  "dup_pair_recall": "ratio", "peak_pss_mb": "MB"}

    def run_pass(self) -> tuple[dict, dict]:
        from semhash_spark.functions.hashing import shingle_hashes
        from semhash_spark.operators.containment import containment_edges
        from semhash_spark.operators.dedup import self_deduplicate

        t0 = time.perf_counter()
        feats = self.corpus.select(ID, shingle_hashes("content", CODE_CFG.shingle_k).alias("shingles"))
        extra = containment_edges(feats, CODE_CFG, ID)
        res = self_deduplicate(self.corpus, CODE_CFG, mode="minhash", extra_edges=extra)
        n_sel, fil = _materialize_self(res)
        wall = time.perf_counter() - t0
        out = _self_outputs(n_sel, fil, _semantic_pairs(res))
        res.release()
        return {"pass_s": wall}, out

    def traced_pass(self, tr: Tracer) -> dict:
        """The timed pass's calls, with containment and each stage of
        ``self_deduplicate`` materialized in its own layer's span."""
        from semhash_spark.functions.hashing import shingle_hashes
        from semhash_spark.operators.containment import containment_edges
        from semhash_spark.operators.dedup import self_deduplicate

        with tr.span("sources.corpus") as s:
            s["rows"] = self.generate().count()
        with tr.span("operators.containment") as s:
            feats = self.corpus.select(ID, shingle_hashes("content", CODE_CFG.shingle_k).alias("shingles"))
            extra = tr.keep(containment_edges(feats, CODE_CFG, ID, persisted=tr.held))
            s["rows"] = extra.count()
        tr.counters["operators.containment.edges"] = s["rows"]
        res = self_deduplicate(self.corpus, CODE_CFG, mode="minhash", extra_edges=extra,
                               checkpointer=tr)
        with tr.span("datamodels") as s:
            n_sel, fil = _materialize_self(res)
            s["rows"] = n_sel + len(fil)
        out = _self_outputs(n_sel, fil, _semantic_pairs(res))
        res.release()
        tr.release()
        return out

    def check(self, out: dict) -> tuple[list[str], float]:
        """Oracle problems with one pass's outputs, and its dup-pair recall."""
        from oracle import TextOracle, cluster_roots, planted_pairs, recall

        contents = self.contents()
        orc = TextOracle(contents, CODE_CFG.shingle_k)
        problems = _check_self_common(out, orc, contents)
        for d, o, score in out["pairs"].itertuples(index=False):
            d, o = int(d), int(o)
            j, c = orc.jaccard(d, o), orc.containment(d, o)
            if not ((abs(score - j) < 1e-9 and j >= CODE_CFG.threshold)
                    or (abs(score - c) < 1e-9 and c >= CODE_CFG.containment_threshold)):
                problems.append(f"pair ({d},{o}) score {score} matches neither "
                                f"jaccard {j} nor containment {c} above threshold")
                break

        def clears(a, b):
            return (contents[a] == contents[b] or orc.jaccard(a, b) >= CODE_CFG.threshold
                    or orc.containment(a, b) >= CODE_CFG.containment_threshold)

        roots = cluster_roots(contents, out["filtered"][[ID, "exemplar_id"]].itertuples(index=False))
        truth = [p for p in planted_pairs(self.n_files) if clears(*p)]
        return problems, recall(truth, lambda a, b: roots[a] == roots[b])


def _check_self_common(out: dict, orc, contents) -> list[str]:
    """Checks every self-dedup result must pass: rows add up, exact
    duplicates match the content groups, and every dropped row points at
    a kept exemplar."""
    problems = []
    c = out["counts"]
    if c["selected"] + c["filtered"] != len(contents):
        problems.append(f"selected {c['selected']} + filtered {c['filtered']} != {len(contents)}")
    groups = orc.exact_groups(contents)
    fil = out["filtered"]
    exact = fil[fil["exact"]]
    want = {i for i, g in groups.items() if g != i}
    if set(exact[ID].astype(int)) != want:
        problems.append(f"exact-filtered ids differ from the content groups "
                        f"({len(exact)} vs {len(want)})")
    for rid, ex in exact[[ID, "exemplar_id"]].itertuples(index=False):
        if groups[int(rid)] != int(ex):
            problems.append(f"exact row {rid} points at {ex}, not its group's first row")
            break
    dropped = set(fil[ID].astype(int))
    sem = fil[~fil["exact"]]
    for rid, ex in sem[[ID, "exemplar_id"]].itertuples(index=False):
        if int(ex) in dropped or int(ex) >= int(rid):
            problems.append(f"row {rid} points at {ex}, which is not a smaller kept row")
            break
    return problems


class CosineSurfaces(Workload):
    """One ``SparkSemHash(mode="cosine").fit(corpus)`` serving
    ``self_deduplicate``, ``self_filter_outliers(0.1)`` and
    ``self_find_representative(10)``."""

    name = "cosine_surfaces"
    n_files = 3000
    end_to_end = SelfDedupMinhash.end_to_end
    OUTLIER_PCT = 0.1
    N_REPS = 10

    def _rank(self, sh):
        fo = sh.self_filter_outliers(self.OUTLIER_PCT)
        n_in = fo.selected.count()
        outliers = fo.filtered.select("query_id").toPandas()["query_id"]
        reps = sh.self_find_representative(self.N_REPS)[0]
        fo.release()
        return n_in, outliers, reps

    def run_pass(self) -> tuple[dict, dict]:
        from semhash_spark.api import SparkSemHash

        t0 = time.perf_counter()
        sh = SparkSemHash(COS_CFG, mode="cosine").fit(self.corpus)
        res = sh.self_deduplicate()
        n_sel, fil = _materialize_self(res)
        ranked = self._rank(sh)
        wall = time.perf_counter() - t0
        out = self._outputs(n_sel, fil, _semantic_pairs(res), *ranked)
        res.release()
        sh.release()
        return {"pass_s": wall}, out

    def traced_pass(self, tr: Tracer) -> dict:
        """The timed pass's calls, each in its layer's span; the stages of
        ``self_deduplicate`` are spanned through its checkpointer hook."""
        from semhash_spark.api import SparkSemHash

        with tr.span("sources.corpus") as s:
            s["rows"] = self.generate().count()
        with tr.span("api.fit") as s:
            sh = SparkSemHash(COS_CFG, mode="cosine").fit(self.corpus)
            # fit only marks its exemplar and feature caches; counting
            # the feature cache fills both here, not in the first call
            # that reads them
            s["rows"] = sh._feats.count()
        res = sh.self_deduplicate(checkpointer=tr)
        with tr.span("datamodels") as s:
            n_sel, fil = _materialize_self(res)
            s["rows"] = n_sel + len(fil)
        pairs = _semantic_pairs(res)
        with tr.span("operators.rank") as s:
            ranked = self._rank(sh)
            s["rows"] = ranked[0] + len(ranked[1])
        out = self._outputs(n_sel, fil, pairs, *ranked)
        res.release()
        sh.release()
        tr.release()
        return out

    @staticmethod
    def _outputs(n_sel, fil, pairs, n_in, outliers, reps) -> dict:
        out = _self_outputs(n_sel, fil, pairs)
        out["counts"].update(inliers=int(n_in), outliers=int(len(outliers)))
        out["fingerprint"] += "/" + _fingerprint((i,) for i in outliers)
        out["representatives"] = [int(i) for i in reps]
        return out

    def comparable(self, out: dict) -> dict:
        return {**super().comparable(out), "representatives": out["representatives"]}

    def check(self, out: dict) -> tuple[list[str], float]:
        from oracle import TextOracle, cluster_roots, planted_pairs, recall

        contents = self.contents()
        orc = TextOracle(contents, CODE_CFG.shingle_k,
                         COS_CFG.embedding_dim, COS_CFG.embedding_ngram)
        problems = _check_self_common(out, orc, contents)
        pairs = out["pairs"]
        if len(pairs):
            cos = orc.cosine(pairs["dup_id"].to_numpy(), pairs["other_id"].to_numpy())
            score = pairs["score"].to_numpy()
            bad = (np.abs(score - cos) > 1e-5) | (score < COS_CFG.threshold)
            if bad.any():
                i = int(np.argmax(bad))
                problems.append(f"pair {tuple(pairs.iloc[i, :2])} score {score[i]} vs "
                                f"exact cosine {cos[i]}")
        n_ex = out["counts"]["selected"] + out["counts"]["filtered"] - out["counts"]["exact"]
        want_out = math.ceil(n_ex * self.OUTLIER_PCT)
        if out["counts"]["outliers"] != want_out or out["counts"]["inliers"] != n_ex - want_out:
            problems.append(f"outliers {out['counts']['outliers']} != ceil({n_ex} * "
                            f"{self.OUTLIER_PCT})")
        reps = out["representatives"]
        exact = set(out["filtered"][out["filtered"]["exact"]][ID].astype(int))
        if len(set(reps)) != self.N_REPS or exact & set(reps):
            problems.append(f"representatives {reps} are not {self.N_REPS} distinct exemplars")

        planted = planted_pairs(self.n_files)
        cos = orc.cosine(*np.array(planted).T)
        truth = [(a, b) for (a, b), c in zip(planted, cos)
                 if contents[a] == contents[b] or c >= COS_CFG.threshold]
        roots = cluster_roots(contents, out["filtered"][[ID, "exemplar_id"]].itertuples(index=False))
        return problems, recall(truth, lambda a, b: roots[a] == roots[b])


WORKLOADS = {w.name: w for w in (SelfDedupMinhash, CosineSurfaces)}
