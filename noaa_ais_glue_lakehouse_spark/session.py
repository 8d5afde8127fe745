"""SparkSession factory: the one place a session is built.

The reference re-creates its Glue session bootstrap in every job
(its ``pipelines/raw_to_staging.py:20-34``, SURVEY §3.1). Here
``get_spark`` holds the repo's only ``SparkSession.builder`` chain and
callers name one of four profiles:

- ``default``: the engine's session, tuned for correctness-critical
  determinism (UTC; ANSI left at Spark's default — every query runs clean
  under it) and scale (AQE, adaptive coalescing, Arrow). Used by
  ``perfbench/run.py`` and ``tools/selfcheck.py``. On a cluster only
  ``$SPARK_MASTER`` and ``$SPARK_SHUFFLE_PARTITIONS`` change.
- ``bench``: one long-lived sequential JVM timing a large catalog (24g
  heap, catalog-sized codegen cache, no class unloading). Used by
  ``bench.py``, ``tools/time_queries.py``, ``scale_probe``,
  ``hash_queries``, ``capture_plans`` and ``planreport``.
- ``vanilla``: the bare session the test suite runs on, as the external
  driver does — a dependency on a ``default``-only conf is a bug.
- ``hostile``: ``tools/selfcheck.py --hostile``'s adversarial stand-in for
  the driver's session: non-UTC timezone, TIMESTAMP_NTZ timestamps, none
  of the ``default`` confs.

``cores`` sets local parallelism (and, except for ``default``, the shuffle
partitions); unset it is ``$SPARK_GRAFT_CPUS`` for ``default`` (else ``*``)
and ``bench`` (else 32), 4 for ``vanilla`` and 16 for ``hostile``.
``$SPARK_DRIVER_MEMORY`` overrides the heap of every profile that sizes
one; ``$SPARK_GRAFT_CODEGEN_CACHE`` the codegen cache of the first two.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default(cores):
    cpus = cores or os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    return master, "WARN", {
        # deterministic timestamp semantics for the duckdb oracle comparison
        "spark.sql.session.timeZone": "UTC",
        # AQE: runtime shuffle coalescing + skew-join handling — the scale
        # story for 100 TB (replaces the reference's manual repartition(200)).
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"),
        # Arrow for pandas_udf / applyInPandas exchange
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # read nanosecond-precision parquet timestamps as long (Spark has no
        # ns timestamp); sources.readers converts them to micros timestamps
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.ui.enabled": "false",
        "spark.driver.memory": "8g",
        # Spark's default 100 codegen classes thrash when a session runs
        # many distinct plans, re-JITing every whole-stage class from the
        # interpreter on each re-run (measured 10x CPU on LSH verifies).
        "spark.sql.codegen.cache.maxEntries": os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "4096"),
    }


def _bench(cores):
    cpus = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return f"local[{cpus}]", "ERROR", {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        # at 8g the LSH verify joins hit a GC wall (q27 5.2 s steady at 24g
        # vs 6.6-6.9 s); multi-process selfcheck keeps default's 8g
        "spark.driver.memory": "24g",
        # one suite pass compiles ~1000+ codegen fragments: at 100 entries
        # every pass re-JITs them (q27 verify 717-893 vs 77-84 CPU-s warm)
        "spark.sql.codegen.cache.maxEntries": os.environ.get("SPARK_GRAFT_CODEGEN_CACHE", "10000"),
        # class unloading deoptimizes hot code inlined through a dead
        # trial's generated classes (q47 19.5 s vs 2.2 s in the same run);
        # the 1g code cache holds the retained nmethods
        "spark.driver.extraJavaOptions": "-XX:-ClassUnloading -XX:ReservedCodeCacheSize=1g",
    }


def _vanilla(cores):
    cpus = cores or 4
    return f"local[{cpus}]", None, {
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }


def _hostile(cores):
    cpus = cores or 16
    return f"local[{cpus}]", None, {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.timestampType": "TIMESTAMP_NTZ",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": "8g",
        "spark.ui.enabled": "false",
    }


_PROFILES = {"default": _default, "bench": _bench, "vanilla": _vanilla, "hostile": _hostile}


def resolve(
    profile: str = "default", cores: int | None = None
) -> tuple[str, str | None, dict[str, str]]:
    """``(master, log level, confs)`` of a profile, without starting a JVM."""
    if profile not in _PROFILES:
        raise ValueError(f"unknown session profile {profile!r}; one of {sorted(_PROFILES)}")
    master, log_level, confs = _PROFILES[profile](cores)
    heap = confs.get("spark.driver.memory")
    if heap:
        confs["spark.driver.memory"] = os.environ.get("SPARK_DRIVER_MEMORY", heap)
    return master, log_level, confs


def get_spark(
    app_name: str = "noaa-ais-lakehouse-spark", profile: str = "default", cores: int | None = None
) -> SparkSession:
    """Build (or reuse) the session of the named profile."""
    master, log_level, confs = resolve(profile, cores)
    builder = SparkSession.builder.master(master).appName(app_name)
    for key, value in confs.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if log_level:
        spark.sparkContext.setLogLevel(log_level)
    return spark
