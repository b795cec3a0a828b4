"""Deterministic record identity & exact-duplicate keys.

Reference semantics being reproduced:

* exact-duplicate key = projection of the record onto the declared
  columns with missing values defaulting to "" (``to_frozendict``,
  reference semhash/utils.py:31-33), rendered as the tab-join of the
  cleaned column values (``dict_to_string``,
  reference semhash/records.py:6-17).
* record order (list position, first-occurrence-wins in
  semhash/utils.py:87-124) becomes an explicit ``record_id`` long:
  Spark DataFrames are unordered, so every order-dependent decision
  is keyed on ``record_id`` instead.

Scale note: ``row_number`` over a global order is a single-partition
sort — fine at test scale, wrong at 10^12 rows. ``with_record_id``
therefore prefers an existing unique long column, or derives a
63-bit key from xxhash64 over a caller-supplied natural key
(collision-checked, shuffle-free); exemplar selection everywhere
uses ``min(record_id)`` which needs no global sort, only a hash
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def rendered_record(columns, df: DataFrame | None = None) -> Column:
    """Tab-join of cleaned column values (reference records.py:6-17).

    When ``df`` is provided, complex-typed columns (array/struct/map)
    render as canonical JSON — the analogue of the reference keying
    unhashable values via canonical JSON (semhash/datamodels.py:
    139-146); atomic columns keep the plain string cast so existing
    keys are unchanged.
    """
    dtypes = dict(df.dtypes) if df is not None else {}
    cleaned = []
    for c in columns:
        col = F.col(c)
        dt = dtypes.get(c, "")
        if dt.startswith(("array", "struct", "map")):
            col = F.to_json(col)
        else:
            col = col.cast("string")
        # translate, not regexp_replace: single-char tab->space needs
        # no regex engine (measured ~2x on the exact stage's key pass
        # over multi-KB content), identical output for this pattern
        cleaned.append(F.translate(F.coalesce(col, F.lit("")), "\t", " "))
    return F.concat_ws("\t", *cleaned)


def exact_key(columns, df: DataFrame | None = None) -> Column:
    """sha256 of the rendered record — the frozendict key analogue."""
    return F.sha2(rendered_record(columns, df), 256)


def content_sha(col: str = "content") -> Column:
    """Per-row invariant carried end-to-end (BASELINE input_hint)."""
    return F.sha2(F.coalesce(F.col(col), F.lit("")), 256)


def with_record_id(
    df: DataFrame,
    order_cols: list[str] | None = None,
    id_col: str = "record_id",
    existing: str | None = None,
    natural_key: list[str] | None = None,
    salt: str | int | None = None,
) -> DataFrame:
    """Attach a deterministic unique long ``record_id``.

    :param existing: name of a unique long column to reuse (e.g.
        ``doc_id``) — the scale path, no sort needed.
    :param natural_key: columns that uniquely identify a row (e.g.
        repo/path/commit): derives a 63-bit id from xxhash64 over
        them — no sort, no shuffle, partition-independent; raises if
        the derived ids collide (checked with one count-distinct).
        The other scale path when no long id column exists.

        Row ceiling: 63-bit ids hit birthday collisions at p ≈
        n²/2^64 — ~0.5% at 10^8 rows, near-certain by ~10^10. On a
        collision the check raises with guidance: retry with a
        different ``salt`` (re-seeds the hash; a second draw only
        helps against bad luck, not against exceeding the ceiling)
        or ingest-assign persistent ids (``existing``) once via
        ``monotonically_increasing_id``/Iceberg identity columns —
        at 10^12 rows a 63-bit hash id is mathematically insufficient
        and the pipeline should key on a stored id instead.
    :param salt: extra seed folded into the natural-key hash
        (collision-recovery knob; changes every derived id).
    :param order_cols: natural-key columns defining first-occurrence
        order; derives id = dense row_number over that order. Only
        for test-scale inputs (global sort).
    """
    if existing is not None:
        return df.withColumn(id_col, F.col(existing).cast("long"))
    if natural_key:
        cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in natural_key]
        if salt:
            cols = [F.lit(f"salt:{salt}")] + cols
        # shiftrightunsigned keeps the full-entropy top 63 bits and is
        # always non-negative (F.abs(MIN_LONG) stays negative in
        # non-ANSI mode — ADVICE r1)
        out = df.withColumn(id_col, F.shiftrightunsigned(F.xxhash64(*cols), 1))
        n, nd = out.agg(
            F.count("*").alias("n"), F.countDistinct(id_col).alias("nd")
        ).first()
        if n != nd:
            raise ValueError(
                f"natural_key {natural_key} produced {n - nd} record_id "
                "collisions — either the key is not unique, or the input "
                "exceeds the 63-bit hash-id ceiling (see with_record_id "
                "docstring); retry with salt=... or assign persistent ids "
                "at ingest and pass existing=..."
            )
        return out
    if not order_cols:
        raise ValueError("need `existing`, `natural_key`, or order_cols")
    from pyspark.sql import Window

    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn(id_col, F.row_number().over(w).cast("long") - 1)
