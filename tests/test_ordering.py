"""O1 partition-local sort and A7 observe() counters."""

from __future__ import annotations

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

    out = global_running_sum(df, ["k", "rid"], "delta", out_col="c").collect()
    w = Window.orderBy("k", "rid").rowsBetween(Window.unboundedPreceding, 0)
    ref = {
        (r["k"], r["rid"]): r["c"]
        for r in df.withColumn("c", F.sum("delta").over(w)).collect()
    }
    # (k, rid) is a total order -> every row comparable, not just maxima
    assert len(out) == 400
    for r in out:
        assert r["c"] == ref[(r["k"], r["rid"])]


def test_global_running_sum_plan_is_cache_free_and_hash_bucketed(spark):
    """The bucket id is computed from the order key, so the plan needs
    neither a cache nor a range exchange to keep its two references to
    the locally-scanned stream in agreement: no InMemoryRelation, no
    RangePartitioning, and the window exchange hashes ``_pid``."""
    import re

    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    df = spark.range(100).withColumnRenamed("id", "t").withColumn(
        "v", (F.col("t") % 3 - 1).cast("int")
    )
    out = global_running_sum(df, ["t"], "v")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan
    assert re.search(r"hashpartitioning\(_pid#\d+", plan), plan
    # one bucket-search probe per projection: a Catalyst rule that
    # inlined them into each other would grow the expression 3x per probe
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert max(line.count("CASE WHEN") for line in optimized.splitlines()) == 1
    got = {r["t"]: r["running"] for r in out.collect()}
    acc, want = 0, {}
    for t in range(100):
        acc += t % 3 - 1
        want[t] = acc
    assert got == want


def test_global_running_sum_no_single_partition_window(spark):
    """The big-table window must be partitioned by _pid — only the
    |partitions|-sized offsets window may be global."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    df = spark.range(100).withColumnRenamed("id", "t").withColumn(
        "v", (F.col("t") % 3 - 1).cast("int")
    )
    out = global_running_sum(df, ["t"], "v")
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


@pytest.mark.parametrize(
    "reuse, aqe",
    [("true", "true"), ("false", "true"), ("false", "false")],
    ids=["reuse", "noreuse", "noreuse-noaqe"],
)
def test_global_running_sum_exact_without_exchange_reuse(spark, reuse, aqe):
    """1M rows under a permutation key: every running sum is exact with
    exchange reuse on, off, and off with AQE off. The plan reads the
    bucketed stream twice (local sums and per-bucket totals); a bucket id
    that differed between the two evaluations — as Spark's range sampler
    can when nothing shares the exchange — misaligns the offsets."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    n = 1_000_000
    keys = ("spark.sql.exchange.reuse", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.exchange.reuse", reuse)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        # 7919 is prime and coprime to n, so k is a permutation of [0, n)
        # whose order differs from the input's; v = 1 makes the exact
        # running sum at key k equal to k + 1
        df = spark.range(n).select(
            ((F.col("id") * 7919) % n).alias("k"), F.lit(1).alias("v")
        )
        out = global_running_sum(df, ["k"], "v")
        wrong = out.filter(F.col("running") != F.col("k") + 1).count()
        assert wrong == 0
        assert out.count() == n
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


# every catalog query that reaches global_running_sum: directly, or via
# exact_auc (q220) or plan_compaction (q245)
GRS_CONSUMERS = [
    "q172_max_concurrent_sessions",
    "q220_auc_rank_sum",
    "q225_sorted_neighborhood_pairs",
    "q227_reciprocal_rank_fusion",
    "q245_compaction_plan",
    "q251_sequence_packing",
    "q252_budgeted_selection",
    "q270_epoch_shuffle_shards",
    "q293_curriculum_stages",
    "q304_exact_global_percentiles",
    "q360_average_precision",
    "q377_vocab_growth_curve",
    "q379_equidepth_bins",
]


@pytest.mark.parametrize("name", GRS_CONSUMERS)
def test_grs_consumer_rows_do_not_depend_on_exchange_reuse(spark, name):
    """Each consumer returns the same rows with exchange reuse and AQE
    off as under the session's defaults (sf0.001)."""
    from noaa_ais_glue_lakehouse_spark.plans import catalog

    sf_dir = "/root/testdata/sf0.001"
    query = catalog.queries()[name]
    want = sorted(map(repr, query(spark, sf_dir).collect()))
    keys = ("spark.sql.exchange.reuse", "spark.sql.adaptive.enabled")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "false")
        got = sorted(map(repr, query(spark, sf_dir).collect()))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert got == want and want


@pytest.mark.parametrize("ts_type", ["timestamp_ltz", "timestamp_ntz"])
def test_global_running_sum_timestamp_bounds_keep_their_instant(spark, monkeypatch, ts_type):
    """Range bounds drawn from a timestamp key stay exact when the Python
    process observes DST in another time zone than the session's. A
    naive-datetime round trip maps both 01:30s of the New York fall-back
    hour to the first one (TIMESTAMP: the bounds come back unsorted) or
    shifts every bound by the zone offset (TIMESTAMP_NTZ); either way a
    few buckets swallow most rows."""
    import time

    from noaa_ais_glue_lakehouse_spark.operators import ordering

    keyed = []
    bucket = ordering._with_range_bucket

    def spy(df, key_type, bounds):
        keyed.append(bucket(df, key_type, bounds))
        return keyed[-1]

    monkeypatch.setattr(ordering, "_with_range_bucket", spy)
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        # every 10 s from 04:00 to 08:00 UTC on the fall-back day, which
        # covers the repeated 01:00-02:00 New York hour
        start = 1730606400  # 2024-11-03 04:00:00 UTC
        df = spark.range(1440).select(
            F.timestamp_seconds(F.lit(start) + F.col("id") * 10).cast(ts_type).alias("ts"),
            F.col("id"),
            F.lit(1).alias("v"),
        )
        out = ordering.global_running_sum(df, ["ts"], "v")
        assert out.filter(F.col("running") != F.col("id") + 1).count() == 0
        sizes = [r["count"] for r in keyed[0].groupBy("_pid").count().collect()]
        # 16 buckets of ~90 rows; the lossy round trip left one of 455
        assert max(sizes) < 3 * 1440 / 16, sorted(sizes)
    finally:
        monkeypatch.undo()
        time.tzset()
