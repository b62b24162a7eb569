"""LRU query/filter cache — the ``LRUQueryCache`` analogue.

The reference caches per-segment bitsets of filter-shaped (score-free)
queries once a usage-tracking policy deems them hot
(``core/search/LRUQueryCache.java`` + ``UsageTrackingQueryCachingPolicy``).
Spark-first mapping: the cached artifact is the PERSISTED distributed match
set (a ``doc_id`` DataFrame pinned with ``persist()``), keyed by the
normalized query AST (frozen dataclasses — structural equality). A query
enters the cache on its ``min_uses``-th use (default 2, the
usage-tracking idea: never pay storage for one-shot filters); eviction is
LRU and unpersists the DataFrame.

Scale note: a cached match set is O(matching docs) distributed across
executors' storage memory — bounded by ``max_entries`` and Spark's own
storage eviction (MEMORY_AND_DISK persists degrade gracefully), never by
driver memory.
"""

from __future__ import annotations

import threading
from collections import OrderedDict


class LRUQueryCache:
    """Thread-safe: the bookkeeping runs under one lock, ``build()`` outside
    it. Concurrent first uses may each miss and build; one persisted match
    set is kept."""

    def __init__(self, max_entries: int = 64, min_uses: int = 2):
        self.max_entries = max_entries
        self.min_uses = min_uses
        self._uses: OrderedDict = OrderedDict()  # LRU-trimmed usage tracker
        self._cache: OrderedDict = OrderedDict()
        self._lock = threading.Lock()
        self.hits = 0
        self.misses = 0

    def get_or_build(self, key, build):
        """Return the (possibly persisted) DataFrame for ``key``;
        ``build()`` produces it on a miss."""
        with self._lock:
            if key in self._cache:
                self.hits += 1
                self._cache.move_to_end(key)
                return self._cache[key]
            self.misses += 1
            uses = self._uses[key] = self._uses.get(key, 0) + 1
            self._uses.move_to_end(key)
            # bound the tracker itself: a stream of one-shot unique filters
            # must not accumulate AST keys on the driver (UsageTracking
            # history is bounded in the reference too)
            while len(self._uses) > 16 * self.max_entries:
                self._uses.popitem(last=False)
        df = build()
        if uses < self.min_uses:
            return df
        from pyspark import StorageLevel

        with self._lock:
            if key in self._cache:  # a concurrent caller persisted it first
                self._cache.move_to_end(key)
                return self._cache[key]
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            self._cache[key] = df
            old = (self._cache.popitem(last=False)[1]
                   if len(self._cache) > self.max_entries else None)
        if old is not None:
            old.unpersist()
        return df

    def clear(self):
        with self._lock:
            cached = list(self._cache.values())
            self._cache.clear()
            self._uses.clear()
        for df in cached:
            df.unpersist()
