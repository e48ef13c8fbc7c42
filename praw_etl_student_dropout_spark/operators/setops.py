"""Set operators & exact dedup (SURVEY.md §2.7 D1, D2, D4).

The reference accumulates 119 per-query result lists into one
(etl_pipeline.py:44-57) guarded by a ``seen_ids`` set (D2). Spark forms:
union is plan-level (zero cost until an action); dedup is a shuffle on
the dedup key with map-side partial dedup first.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def union_all(dfs: list[DataFrame]) -> DataFrame:
    """D1 — union by column name (etl_pipeline.py:44-57's accumulation).
    ``unionByName`` so column order differences across branches are safe."""
    return reduce(lambda a, b: a.unionByName(b), dfs)


def dedup_by_key(
    df: DataFrame,
    keys: list[str],
    tiebreak: list[Column | str] | None = None,
) -> DataFrame:
    """D2 — exact dedup (seen_ids etl_pipeline.py:41,49-50; INSERT IGNORE
    etl_pipeline.py:122).

    With ``tiebreak`` the survivor per key is the row with the smallest
    tiebreak tuple (ascending lexicographic — must be a total order for
    determinism; SURVEY §7 watch-list), computed as ``min`` over ONE
    struct laid out (tiebreak..., payload...) in a single shuffle.
    Lexicographic struct-min equals the min_by result whenever the
    tiebreak is a total order, and when it is not, extends the order over
    the payload fields (MORE deterministic than min_by's arbitrary pick).
    Partial/final split holds, so hot keys collapse map-side before the
    exchange, and the agg buffer ships each column ONCE — a
    ``min_by(struct(payload), struct(tiebreak))`` buffer carries the
    ordering struct AND the payload struct, duplicating every
    plain-column tiebreak's bytes through the shuffle (11 fields vs 6 on
    the d2 headline query). A row_number window instead would shuffle
    every duplicate into one reducer per key, serializing a hot key into
    a single task at scale.

    Without ``tiebreak``: ``dropDuplicates`` (arbitrary survivor).
    """
    if tiebreak is None:
        return df.dropDuplicates(keys)
    rest = [c for c in df.columns if c not in keys]
    # Tiebreak fields first, remaining payload after — struct ordering
    # compares field-wise left to right (nulls first, same null placement
    # as min_by's key ordering). Plain-column tiebreaks keep their own
    # names so each column is shipped ONCE through the partial-agg buffer
    # and shuffle; expression tiebreaks get ``__tb{i}`` aliases and the
    # payload keeps every rest column.
    plain = [c for c in tiebreak if isinstance(c, str)]
    fields = [
        F.col(c).alias(c) if isinstance(c, str) else c.alias(f"__tb{i}")
        for i, c in enumerate(tiebreak)
    ]
    ordered = F.struct(*fields, *[F.col(c) for c in rest if c not in plain])
    return (
        df.groupBy(*keys)
        .agg(F.min(ordered).alias("__row"))
        .select(*keys, *[F.col("__row")[c].alias(c) for c in rest])
        .select(*df.columns)
    )


def intersect_keys(a: DataFrame, b: DataFrame) -> DataFrame:
    """D4 — INTERSECT (distinct semantics)."""
    return a.intersect(b)


def except_keys(a: DataFrame, b: DataFrame, keep_duplicates: bool = False) -> DataFrame:
    """D4 — EXCEPT / EXCEPT ALL."""
    return a.exceptAll(b) if keep_duplicates else a.subtract(b)
