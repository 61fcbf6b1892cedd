"""Scoped persist: bounded caching for operators called in loops.

Operators like minhash_lsh_pairs / bm25_topk / tfidf_top_terms persist an
intermediate (candidate pairs, the tf table) that feeds several downstream
consumers of the SAME returned plan — the cache is load-bearing for the
plan shape, so the operator cannot unpersist it before returning (the
consuming action happens later, in the caller).

A bare ``.persist()`` per call, however, accumulates executor storage
across a long-lived session (benchmark loops, notebooks) because nothing
ever unpersists the previous call's handle. ``scoped_persist`` bounds that
to ONE live cache per named scope: each call evicts the handle the same
scope persisted last time. At 100 TB the same property matters more, not
less — an unbounded cache registry on a shared cluster is a slow OOM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_SCOPED: dict[str, DataFrame] = {}


def scoped_persist(df: DataFrame, scope: str) -> DataFrame:
    """Persist ``df`` under ``scope``, unpersisting whatever the same scope
    persisted previously — UNLESS the new plan is semantically identical to
    the cached one, in which case the existing handle is returned and its
    (possibly already materialized) cache is reused. Re-running the same
    operator on the same inputs is the common steady-state (dashboards,
    benchmark warm runs); evicting a cache only to rebuild the identical
    one would throw that warm state away. Non-blocking unpersist: in-flight
    jobs that still reference the old cache recompute missing blocks
    instead of failing. A kept handle whose cache was dropped behind its
    back (``spark.catalog.clearCache()``) stores nowhere any more, so it
    is persisted afresh instead of being returned stale."""
    prev = _SCOPED.get(scope)
    if prev is not None:
        try:
            if prev.sparkSession is df.sparkSession and prev.sameSemantics(df):
                level = prev.storageLevel
                if level.useMemory or level.useDisk:
                    return prev
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session of the previous handle may already be stopped
        _SCOPED.pop(scope, None)
    out = df.persist()
    _SCOPED[scope] = out
    return out


def release_all() -> None:
    """Unpersist every scoped cache (test teardown / session shutdown)."""
    for scope in list(_SCOPED):
        prev = _SCOPED.pop(scope)
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
