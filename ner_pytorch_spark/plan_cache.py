"""Keyed LRU for persisted intermediate DataFrames.

Operators like MinHash-LSH and IVF reference one expensive subplan
(shingle table / centroid assignment) from many plan branches; Spark
evaluates each branch independently, so the subplan is persisted once
and reused. A bare module-global single slot (rounds 1-4) silently
thrashed when two different inputs interleaved — composing
``ngram_jaccard_pairs`` + ``minhash_lsh_pairs`` over two corpora
unpersisted each other's cache every call.

This cache keys entries by (analyzed-plan semantic hash, params), so
the SAME logical input + params reuses its persisted table and a
DIFFERENT one gets its own slot; least-recently-used entries are
unpersisted past ``capacity``. NOT thread-safe (same contract as
SparkSession usage in this package: one driver thread).
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Callable, Hashable

from pyspark.sql import DataFrame


def plan_key(df: DataFrame) -> Hashable:
    """Stable key for a DataFrame's logical plan.

    Uses the analyzed plan's ``semanticHash`` (the same equivalence
    Catalyst uses for plan-level dedup) so two references to the same
    source + transformations share a key even if the Python objects
    differ. Falls back to ``id(df)`` if the JVM call shape changes.
    """
    try:
        return ("sem", df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        return ("pyid", id(df))


# every module-level cache in the package, cleared together by
# clear_caches(): PlanCaches register on construction, other memos via
# register()
_REGISTRY: list = []


def register(cache):
    """Add ``cache`` (anything with ``.clear()``) to :func:`clear_caches`;
    returns it."""
    _REGISTRY.append(cache)
    return cache


def clear_caches() -> None:
    """Empty every registered cache, unpersisting the cached tables.

    CONTRACT: the caches key persisted tables by the input's
    analyzed-plan semanticHash + params, which identifies the LOGICAL
    plan — if the files UNDER a source path are rewritten between runs,
    the key is unchanged and the stale persisted table would be
    returned. Callers that mutate a source between passes in one driver
    process must call this first (batch pipelines that read immutable
    snapshots — the normal mode — never need to).
    """
    for cache in _REGISTRY:
        cache.clear()


class PlanCache:
    def __init__(self, capacity: int = 4):
        self.capacity = capacity
        self._slots: OrderedDict[Hashable, DataFrame] = OrderedDict()
        register(self)

    def get_or_build(self, key: Hashable,
                     build: Callable[[], DataFrame]) -> DataFrame:
        """Return the persisted DataFrame for ``key``, building (and
        persisting MEMORY_AND_DISK) on miss; evicts + unpersists LRU."""
        from pyspark import StorageLevel

        hit = self._slots.get(key)
        if hit is not None:
            self._slots.move_to_end(key)
            return hit
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        self._slots[key] = df
        while len(self._slots) > self.capacity:
            _, old = self._slots.popitem(last=False)
            old.unpersist(blocking=False)
        return df

    def clear(self) -> None:
        for df in self._slots.values():
            df.unpersist(blocking=False)
        self._slots.clear()
