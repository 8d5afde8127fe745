"""O1 partition-local sort and A7 observe() counters."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators.ordering import (
    sort_by_entity_time,
    with_row_observations,
)


def test_sort_by_entity_time_no_global_exchange(spark):
    df = spark.createDataFrame(
        [(2, 30), (1, 20), (2, 10), (1, 5)], ["mmsi", "t"]
    )
    out = sort_by_entity_time(df, "mmsi", "t", num_partitions=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()  # no global sort exchange
    # within each partition, rows of one entity are contiguous & time-ordered
    per_part = out.rdd.glom().collect()
    for part in per_part:
        times = {}
        for row in part:
            times.setdefault(row["mmsi"], []).append(row["t"])
        for ts in times.values():
            assert ts == sorted(ts)


def test_with_row_observations(spark):
    df = spark.createDataFrame([(1, None), (2, "x")], ["id", "v"])
    out, obs = with_row_observations(df, null_check_cols=["v"])
    out.write.format("noop").mode("overwrite").save()
    got = obs.get
    assert got["n_rows"] == 2 and got["n_null_v"] == 1


def test_global_running_sum_matches_single_window(spark):
    """Parallel prefix scan == bare SUM() OVER (ORDER BY ...) at every
    tie-group end, and MAX over the running column matches exactly."""
    import random

    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rng = random.Random(7)
    rows = [(rng.randint(0, 50), rng.choice([1, -1]), i) for i in range(400)]
    df = spark.createDataFrame(rows, ["k", "delta", "rid"])

    out = global_running_sum(
        df, ["k", "rid"], "delta", out_col="c", num_partitions=8
    ).collect()
    w = Window.orderBy("k", "rid").rowsBetween(Window.unboundedPreceding, 0)
    ref = {
        (r["k"], r["rid"]): r["c"]
        for r in df.withColumn("c", F.sum("delta").over(w)).collect()
    }
    # (k, rid) is a total order -> every row comparable, not just maxima
    assert len(out) == 400
    for r in out:
        assert r["c"] == ref[(r["k"], r["rid"])]


def test_global_running_sum_materializes_scanned_stream(spark):
    """Round 10: the prefix scan's locally-scanned stream feeds TWO plan
    references (main output + per-partition totals) and Catalyst does
    not share the subtree, so materialize=True must cache it — the plan
    reads InMemoryTableScan, and the upstream input appears ONCE inside
    the InMemoryRelation. materialize=False keeps the plan fully lazy
    (no cache node), preserving the opt-out."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    df = spark.range(100).withColumnRenamed("id", "t").withColumn(
        "v", (F.col("t") % 3 - 1).cast("int")
    )
    # lazy FIRST: once materialize=True has cached the stream, the
    # CacheManager substitutes any logically-equal later plan with the
    # InMemoryRelation, so the order of these two checks matters
    lazy = global_running_sum(
        df, ["t"], "v", num_partitions=4, materialize=False
    )
    lazy_plan = lazy._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in lazy_plan, lazy_plan
    got_l = {r["t"]: r["running"] for r in lazy.collect()}
    cached = global_running_sum(df, ["t"], "v", num_partitions=4)
    plan = cached._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan, plan
    # both forms compute the same running sums
    got_c = {r["t"]: r["running"] for r in cached.collect()}
    assert got_c == got_l and len(got_c) == 100


def test_global_running_sum_no_single_partition_window(spark):
    """The big-table window must be partitioned by _pid — only the
    |partitions|-sized offsets window may be global."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    df = spark.range(100).withColumnRenamed("id", "t").withColumn(
        "v", (F.col("t") % 3 - 1).cast("int")
    )
    out = global_running_sum(df, ["t"], "v", num_partitions=4)
    assert out.count() == 100


def test_spread_partitions_plan_conditions(spark, tmp_path):
    """(a) a single-split parquet scan gains exactly one round-robin
    exchange at defaultParallelism; (b) a scan/input already at >=
    defaultParallelism partitions is returned UNCHANGED — no exchange
    added at scale (the no-op guard the 100 TB claim rests on)."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import spread_partitions

    p = spark.sparkContext.defaultParallelism

    # (a) one small file -> one scan split -> spread to p via round-robin
    path = str(tmp_path / "one_split")
    spark.range(0, 1000).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    spread = spread_partitions(scan)
    assert spread.rdd.getNumPartitions() == p
    plan = spread._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan or "roundrobin" in plan.lower()

    # (b) already-parallel input: identical object back, no exchange
    wide = spark.range(0, 1000).repartition(p)
    assert spread_partitions(wide) is wide
    wide2 = spark.range(0, 1000).repartition(p + 3)
    assert spread_partitions(wide2) is wide2


def test_grs_auto_materialize_policy(spark, monkeypatch):
    """materialize="auto" (round 11): cache when the optimizer's size
    estimate fits the storage budget, bypass when it does not — and the
    result is identical either way (the cache is an economy, never a
    correctness dependency)."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    df = spark.range(0, 10_000).selectExpr("id AS k", "id % 13 AS v")
    expected = sum(i % 13 for i in range(10_000))

    # generous budget -> cached (an InMemoryRelation in the plan)
    monkeypatch.setenv("SPARK_GRAFT_GRS_CACHE_MAX_BYTES", str(1 << 40))
    out = global_running_sum(df, ["k"], "v", num_partitions=8)
    assert "InMemoryRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    assert out.agg({"running": "max"}).collect()[0][0] == expected

    # drop the first call's cache: the CacheManager would otherwise
    # substitute it into the second plan regardless of the policy
    from noaa_ais_glue_lakehouse_spark.operators._cache import (
        release_query_caches,
    )

    release_query_caches()

    # 1-byte budget -> bypassed, fully lazy, same answer
    monkeypatch.setenv("SPARK_GRAFT_GRS_CACHE_MAX_BYTES", "1")
    out2 = global_running_sum(df, ["k"], "v", num_partitions=8)
    assert (
        "InMemoryRelation"
        not in out2._jdf.queryExecution().optimizedPlan().toString()
    )
    assert out2.agg({"running": "max"}).collect()[0][0] == expected


def _pool_half(heap: int) -> int:
    return int(0.5 * 0.6 * heap)  # half the default unified-memory pool


@pytest.mark.parametrize(
    "env, master, memory, budget",
    [
        (None, "local[4]", "2g", _pool_half(2 << 30)),
        (None, "local[4]", "4096", _pool_half(4 << 30)),  # unitless = MiB, as in Spark
        (None, "local[4]", "1.5g", _pool_half(3 << 29)),  # fractional parses
        (None, "local[4]", "512mb", _pool_half(1 << 29)),
        (None, "local[4]", "lots", _pool_half(1 << 30)),  # unparseable -> 1 GiB
        (None, "spark://host:7077", "3g", _pool_half(3 << 30)),  # executor memory
        ("12345", "local[4]", "2g", 12345),  # the knob wins when well-formed
        ("2gb", "local[4]", "2g", _pool_half(2 << 30)),  # malformed knob falls back
    ],
)
def test_grs_cache_budget_bytes_parses_defensively(monkeypatch, env, master, memory, budget):
    from noaa_ais_glue_lakehouse_spark.operators.ordering import _grs_cache_budget_bytes

    if env is None:
        monkeypatch.delenv("SPARK_GRAFT_GRS_CACHE_MAX_BYTES", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_GRS_CACHE_MAX_BYTES", env)
    key = "spark.driver.memory" if master.startswith("local") else "spark.executor.memory"
    conf = {"spark.master": master, key: memory}
    df = SimpleNamespace(sparkSession=SimpleNamespace(sparkContext=SimpleNamespace(getConf=lambda: conf)))
    assert _grs_cache_budget_bytes(df) == budget
