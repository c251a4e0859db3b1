"""Scoped persist management for operators with cached intermediates.

Several operators (MinHash-LSH, n-gram Jaccard, SimHash pairs,
embedding LSH, IVF) persist small intermediate tables because the
returned lazy plan references them from multiple branches — without
the persist the expensive subtree (shingling, signature folds, plane
dots) executes once per branch. But a bare ``.persist()`` pins
executor storage for the application's lifetime: repeated operator
calls in a long-lived session accumulate dead cache entries.

The contract here: each such operator registers its persists in a
:class:`CacheScope` and attaches the scope to the DataFrame it
returns. Callers that consume the result (collect / write / count)
then free the storage with :func:`release_cache`::

    pairs = ngram_jaccard(docs, "doc_id", "text", max_df=100)
    rows = pairs.collect()
    release_cache(pairs)          # drops the shingle-table cache

``release_cache`` is a no-op on DataFrames without a scope, so call
sites can apply it unconditionally. Derived DataFrames
(``pairs.orderBy(...)`` etc.) do NOT carry the scope — keep a handle
on the operator's direct result, or transform inside the operator.

Unpersisting is non-blocking by default: Spark drops the cache entry
immediately from the CacheManager and frees blocks asynchronously;
an in-flight job that still references the plan simply recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_ATTR = "_fbs_cache_scope"


class CacheScope:
    """Collects persisted intermediates behind one returned plan."""

    def __init__(self) -> None:
        self._dfs: list[DataFrame] = []
        self._checkpoints: list[DataFrame] = []

    def persist(
        self,
        df: DataFrame,
        level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    ) -> DataFrame:
        out = df.persist(level)
        self._dfs.append(out)
        return out

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``df.localCheckpoint(eager)``, freed by :meth:`release`.

        A local checkpoint is an RDD pinned in the block manager, not a
        CacheManager entry: ``DataFrame.unpersist`` cannot reach it, and
        it stays until a JVM GC collects the RDD. The scope unpersists
        the RDD itself (the checkpoint's plan is a ``LogicalRDD`` over
        it)."""
        out = df.localCheckpoint(eager)
        self._checkpoints.append(out)
        return out

    def unpersist(self, df: DataFrame) -> None:
        """Free one :meth:`checkpoint` result ahead of the rest of the
        scope (an intermediate nothing reads any more). Spark logs a
        warning that the RDD's lineage is truncated and cannot be
        recomputed: expected, since nothing reads it again."""
        self._checkpoints.remove(df)
        df._jdf.logicalPlan().rdd().unpersist(False)

    def release(self, blocking: bool = False) -> None:
        for d in self._dfs:
            try:
                d.unpersist(blocking)
            except Exception:
                pass  # session already stopped — nothing to free
        for d in self._checkpoints:
            try:
                d._jdf.logicalPlan().rdd().unpersist(blocking)
            except Exception:
                pass
        self._dfs.clear()
        self._checkpoints.clear()

    def attach(self, result: DataFrame) -> DataFrame:
        """Tag ``result`` with this scope and return it."""
        setattr(result, _ATTR, self)
        return result


def release_cache(df: DataFrame, blocking: bool = False) -> None:
    """Free the cached intermediates behind an operator result.

    No-op for DataFrames that don't carry a scope."""
    scope = getattr(df, _ATTR, None)
    if scope is not None:
        scope.release(blocking)


def carry_cache(dst: DataFrame, src: DataFrame) -> DataFrame:
    """Propagate ``src``'s cache scope onto ``dst`` and return ``dst``.

    For call sites that derive a new DataFrame from an operator result
    (filter/orderBy/rename) and hand the derived one to consumers —
    without this the scope attribute is lost and ``release_cache`` on
    the derived frame becomes a silent no-op. Merges scopes if ``dst``
    already carries one."""
    s = getattr(src, _ATTR, None)
    if s is None:
        return dst
    d = getattr(dst, _ATTR, None)
    if d is None:
        setattr(dst, _ATTR, s)
    else:
        d._dfs.extend(s._dfs)
        d._checkpoints.extend(s._checkpoints)
        s._dfs = []
        s._checkpoints = []
    return dst
