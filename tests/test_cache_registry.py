"""Bounded per-query cache registry (round-11 verdict asks #3/#5).

Operators cache per-query index relations; the registry must (a) evict
the oldest cache beyond the cap so long-lived sessions don't accumulate
dead InMemoryRelations, (b) leave evicted DataFrames fully usable
(silent recompute), and (c) release everything on demand.
"""

from __future__ import annotations

import sys
import threading

import pytest

from noaa_ais_glue_lakehouse_spark.operators import _cache
from noaa_ais_glue_lakehouse_spark.operators._cache import (
    live_cache_count,
    query_scoped_cache,
    release_query_caches,
)


@pytest.fixture(autouse=True)
def _clean_registry():
    release_query_caches()
    yield
    release_query_caches()


def test_eviction_beyond_cap_unpersists_oldest(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_QUERY_CACHE_CAP", "2")
    dfs = [
        query_scoped_cache(spark.range(i, i + 10).toDF("v")) for i in range(4)
    ]
    assert live_cache_count() == 2
    # oldest two evicted: storage level reset to NONE (no memory/disk)
    for df in dfs[:2]:
        lvl = df.storageLevel
        assert not lvl.useMemory and not lvl.useDisk, lvl
    # newest two still cached
    for df in dfs[2:]:
        assert df.storageLevel.useMemory


def test_evicted_dataframe_recomputes_identically(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_QUERY_CACHE_CAP", "1")
    a = query_scoped_cache(spark.range(0, 100).toDF("v"))
    before = sorted(r["v"] for r in a.collect())
    query_scoped_cache(spark.range(100, 200).toDF("v"))  # evicts a
    assert not a.storageLevel.useMemory
    assert sorted(r["v"] for r in a.collect()) == before


def test_release_query_caches_empties_registry(spark):
    dfs = [query_scoped_cache(spark.range(10).toDF("v")) for _ in range(3)]
    assert live_cache_count() == 3
    release_query_caches()
    assert live_cache_count() == 0
    for df in dfs:
        assert not df.storageLevel.useMemory


def test_operator_caches_register(spark, monkeypatch):
    """global_running_sum's materialized local stream goes through the
    registry (the round-10 default-on cache was session-pinned)."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    release_query_caches()
    df = spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v")
    out = global_running_sum(df, ["k"], "v", num_partitions=4)
    assert live_cache_count() == 1
    total = out.agg({"running": "max"}).collect()[0][0]
    assert total == sum(i % 7 for i in range(1000))
    _cache.release_query_caches()
    assert live_cache_count() == 0


def test_concurrent_registration_respects_cap(spark, monkeypatch):
    """8 threads registering at once end at exactly the cap, and every
    frame they pushed out was really unpersisted."""
    monkeypatch.setenv("SPARK_GRAFT_QUERY_CACHE_CAP", "4")
    registered = []
    lock = threading.Lock()

    def worker(t):
        for i in range(25):
            start = (t * 25 + i) * 10  # distinct plans: no shared cache entry
            df = query_scoped_cache(spark.range(start, start + 10).toDF("v"))
            with lock:
                registered.append(df)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the threads as often as possible
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert len(registered) == 200
    assert live_cache_count() == 4
    live = {id(df) for df in _cache._LIVE}
    for df in registered:
        if id(df) not in live:
            lvl = df.storageLevel
            assert not lvl.useMemory and not lvl.useDisk, lvl
