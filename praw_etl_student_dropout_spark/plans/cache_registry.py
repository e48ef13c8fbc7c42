"""Owned session caches for lazy catalog plans (SCALING.md §cache-contract).

A few catalog queries persist an intermediate that their own plan reads
twice (u11's (doc,term,tf) table feeds both the corpus-frequency
aggregation and the scoring join; u10 used to, until round-6 made its
df branch an independent cheaper scan — keep a persist only when the
second reader needs the SAME computation, not a cheaper projection of
it). The query builder is lazy — the CALLER's collect is what
populates the cache — so the builder itself can never unpersist. Instead
of leaving those persists unowned (session-lifetime, LRU-evicted), every
plan-level persist goes through :func:`track`, and
:func:`release_session_caches` frees them all deterministically. bench.py
calls it after EVERY Spark run — warm-up and each timed run — so a timed
run never serves a tracked intermediate from a previous run's cache
(Spark's CacheManager matches canonicalized plans, so re-invoking the
same builder WOULD silently reuse it, skewing any comparison against an
engine that re-executes in full). Long-lived sessions (notebooks,
multi-tenant drivers) call it at their own task boundaries.

Operators with the same shape (MinHash's banded LSH index, shingle
inverted indexes) persist their intermediates through :func:`track` too,
so every lazily returned plan has this one owner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_CACHES: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) and register it for release.
    Returns the persisted DataFrame."""
    df = df.persist()
    _CACHES.append(df)
    return df


def release_session_caches() -> int:
    """Unpersist every tracked plan-level cache; returns how many were
    released. Safe to call at any time — plans re-materialize on next
    use."""
    n = len(_CACHES)
    for d in _CACHES:
        d.unpersist()
    _CACHES.clear()
    return n
