"""Deterministic synthetic source-code corpus (the input_hint table).

Schema per BASELINE.json input_hint:
    (repo string, path string, commit string, lang string, content string)
plus ``record_id`` (long) for the pipeline.

Generation is DISTRIBUTED and ORDER-INDEPENDENT: ``spark.range(n)``
-> ``mapInPandas`` with a per-row RNG seeded by ``seed ^ id``, so the
same (seed, n) produces byte-identical rows on any partitioning /
parallelism — the determinism the scaling-efficiency evidence needs.

Planted structure is derived from id arithmetic (ground truth is
computable without reading the data):

  id % 100 ==  1  -> exact duplicate of id-1
  id % 100 ==  2  -> near-duplicate of id-2 (small token edits)
  id % 100 ==  3  -> near-duplicate of id-3 (chain: 1..3 form A~B~C)
  id % 100 ==  5  -> contained fragment: content is a slice of id-4's
  id % 100 in (10..10+BOILER-1) -> shares a large boilerplate header
  otherwise       -> independent file

(see ``truth_*`` helpers at the bottom).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

VOCAB = np.array(
    [
        "def", "return", "import", "class", "self", "for", "in", "if", "else",
        "while", "try", "except", "raise", "lambda", "yield", "assert", "with",
        "open", "read", "write", "append", "index", "value", "key", "result",
        "data", "config", "parse", "load", "dump", "init", "update", "delete",
        "insert", "query", "table", "row", "column", "filter", "map", "reduce",
        "hash", "merge", "sort", "join", "split", "strip", "encode", "decode",
        "buffer", "stream", "socket", "thread", "lock", "queue", "stack",
        "node", "edge", "graph", "tree", "list", "dict", "set", "tuple",
    ]
)
LANGS = np.array(["py", "java", "go", "js", "rs", "cpp"])
BOILER_N = 8  # ids 10..17 of each century share the boilerplate header
_BASE_LEN = 120  # tokens per base file
_EDIT_RATE = 0.06  # near-dup token replacement rate (Jaccard ~ 0.8+)


def _rng(seed: int, rid: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(np.uint64(seed) ^ np.uint64(rid * 2654435761 + 1)))


def _base_tokens(seed: int, rid: int, n_tok: int = _BASE_LEN) -> np.ndarray:
    return _rng(seed, rid).choice(VOCAB, size=n_tok)


def _boiler_tokens(seed: int) -> np.ndarray:
    return _rng(seed, 999_999_937).choice(VOCAB, size=60)


def _content_for(rid: int, seed: int) -> str:
    slot = rid % 100
    if slot == 1:  # exact duplicate of rid-1
        return _content_for(rid - 1, seed)
    if slot == 2:  # near-dup of rid-2 (the slot-0 base)
        base = _base_tokens(seed, rid - 2)
        toks = base.copy()
        r = _rng(seed, rid)
        idx = r.random(len(toks)) < _EDIT_RATE
        toks[idx] = r.choice(VOCAB, size=int(idx.sum()))
        return " ".join(toks)
    if slot == 3:  # near-dup of rid-3's near-dup (chain A~B~C)
        base = _base_tokens(seed, rid - 3)
        toks = base.copy()
        r = _rng(seed, rid - 1)  # same edits as slot-2 sibling...
        idx = r.random(len(toks)) < _EDIT_RATE
        toks[idx] = r.choice(VOCAB, size=int(idx.sum()))
        r2 = _rng(seed, rid)  # ...plus its own second round of edits
        idx2 = r2.random(len(toks)) < _EDIT_RATE
        toks[idx2] = r2.choice(VOCAB, size=int(idx2.sum()))
        return " ".join(toks)
    if slot == 5:  # contained fragment of rid-4 (slot-1... slot 5-4=1? use base rid-5)
        base = _base_tokens(seed, rid - 5)  # slice of the century's base file
        return " ".join(base[20:60])
    if 10 <= slot < 10 + BOILER_N:  # boilerplate header + tiny unique tail
        boiler = _boiler_tokens(seed)
        tail = _rng(seed, rid).choice(VOCAB, size=12)
        return " ".join(np.concatenate([boiler, tail]))
    return " ".join(_base_tokens(seed, rid))


def generate_corpus(
    spark: SparkSession, n: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    base = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = {
                "record_id": ids,
                "repo": [f"org{(i * 7) % 20}/repo{(i * 13) % 50}" for i in ids],
                "path": [f"src/m{i % 97}/f{i}.txt" for i in ids],
                "commit": [f"{i:040x}" for i in ids],
                "lang": [LANGS[i % len(LANGS)] for i in ids],
                "content": [_content_for(int(i), seed) for i in ids],
            }
            yield pd.DataFrame(rows)

    return base.mapInPandas(
        gen,
        "record_id long, repo string, path string, commit string, lang string, content string",
    )


# ---------------------------------------------------------------- truth


def truth_exact_pairs(n: int) -> list[tuple[int, int]]:
    """(dup, exemplar) pairs for the exact stage."""
    return [(i, i - 1) for i in range(n) if i % 100 == 1]


def truth_near_clusters(n: int) -> list[set[int]]:
    """Near-dup clusters {base, near1, near2} per century (ids 0..3
    minus the exact dup which collapses into base)."""
    out = []
    for c in range(0, n, 100):
        members = {i for i in (c, c + 2, c + 3) if i < n}
        if len(members) > 1:
            out.append(members)
    return out


def truth_containment_pairs(n: int) -> list[tuple[int, int]]:
    """(fragment, container) pairs."""
    return [(i, i - 5) for i in range(n) if i % 100 == 5 and i - 5 >= 0]
