"""Session profiles resolve to fixed confs without starting a JVM.

perfbench times the jobs on the ``default`` profile, so its master and
confs are pinned exactly; the ``bench`` profile's JVM flags are what make
its steady-state timings comparable across rounds.
"""

from __future__ import annotations

import pytest

from noaa_ais_glue_lakehouse_spark.session import resolve


@pytest.fixture
def perfbench_env(monkeypatch):
    for var in ("SPARK_MASTER", "SPARK_GRAFT_CODEGEN_CACHE"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    monkeypatch.setenv("SPARK_SHUFFLE_PARTITIONS", "4")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2048m")


def test_default_profile_under_perfbench_env(perfbench_env):
    master, log_level, confs = resolve("default")
    assert (master, log_level) == ("local[4]", "WARN")
    assert list(confs.items()) == [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
        ("spark.sql.shuffle.partitions", "4"),
        ("spark.sql.sources.partitionOverwriteMode", "dynamic"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.ui.enabled", "false"),
        ("spark.driver.memory", "2048m"),
        ("spark.sql.codegen.cache.maxEntries", "4096"),
    ]


def test_bench_profile_jvm(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CODEGEN_CACHE", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    master, log_level, confs = resolve("bench", cores=8)
    assert (master, log_level) == ("local[8]", "ERROR")
    assert confs["spark.driver.extraJavaOptions"] == (
        "-XX:-ClassUnloading -XX:ReservedCodeCacheSize=1g"
    )
    assert confs["spark.sql.codegen.cache.maxEntries"] == "10000"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    assert confs["spark.driver.memory"] == "24g"


@pytest.mark.parametrize("profile", ["default", "bench"])
def test_driver_memory_env_overrides(profile, monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert resolve(profile)[2]["spark.driver.memory"] == "3g"


def test_unknown_profile_raises():
    with pytest.raises(ValueError, match="unknown session profile"):
        resolve("turbo")
