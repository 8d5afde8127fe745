"""Ordering and instrumentation operators (SURVEY §2.6 O1, §2.4 A7).

O1: co-located sort without a global exchange — repartition on the
entity key, then sort only within partitions. The reference uses this to
lay out trajectory points for sequential reads
(``utils/common_functions_curated.py:95-107``); a global ``orderBy``
would add a range-exchange over the full table for no downstream benefit.

A7: ``observe()`` metrics instead of separate ``count()`` jobs. The
reference's LOG_COUNTS checkpoints each run an extra full job
(``common_functions_curated.py:210-227``); observations piggyback on the
action that already runs, costing one aggregate per partition.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators._cache import query_scoped_cache


def _memory_conf_bytes(text: str) -> int | None:
    """Bytes of a Spark memory size (``512m``, ``2g``, ``1.5g``, ``4gb``);
    a unitless number means MiB, as Spark reads ``spark.*.memory``.
    None when the text is not a size."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)([bkmgt]?)b?", text.strip().lower())
    if m is None:
        return None
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    return int(float(m.group(1)) * units[m.group(2) or "m"])


def _grs_cache_budget_bytes(df: DataFrame) -> int:
    """Storage budget the auto-materialize policy compares against.

    ``SPARK_GRAFT_GRS_CACHE_MAX_BYTES`` wins when set (the production
    knob); otherwise half of the unified-memory pool of one JVM
    (driver in local mode, one executor otherwise) — an
    order-of-magnitude gate, not an exact admission test: a cached
    stream well under it fits; one past it would spill, and the
    round-11 spill A/B measured recompute 1.79× FASTER than a spilled
    cache (50M rows / est 1.4 GB vs a 0.6 GB pool: 31.2 s vs 55.8 s
    median)."""
    try:
        return int(os.environ["SPARK_GRAFT_GRS_CACHE_MAX_BYTES"])
    except (KeyError, ValueError):
        pass  # unset or not integer bytes: derive from the memory conf
    conf = df.sparkSession.sparkContext.getConf()
    master = conf.get("spark.master", "local")
    key = (
        "spark.driver.memory"
        if master.startswith("local")
        else "spark.executor.memory"
    )
    nbytes = _memory_conf_bytes(conf.get(key, "1g")) or 1 << 30
    frac = float(conf.get("spark.memory.fraction", "0.6"))
    return int(0.5 * frac * nbytes)


def spread_partitions(df: DataFrame) -> DataFrame:
    """Repartition up to the cluster parallelism when the input has fewer
    partitions (one small file → one partition serializes compute-bound
    map stages). The round-robin exchange also pins a hard boundary so an
    expensive aliased expression in the next projection cannot be
    collapsed back into per-reference recomputation downstream.

    The single-split scan trap this fixes (measured round 6, 3–12× on
    the gram/md5 catalog family at sf0.1): a corpus that fits one
    parquet split runs ALL row-local compute in ONE task, and AQE then
    byte-coalesces the exchanges behind it, so the serialization
    persists downstream. The guard makes it a NO-OP at scale — when the
    scan already has at least ``defaultParallelism`` partitions (always
    true at 100 TB), the DataFrame is returned unchanged and no shuffle
    is added where shuffling raw text would actually cost something.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def sort_by_entity_time(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """O1 — ``repartition(entity)`` + ``sortWithinPartitions(entity, ts)``.

    All rows of one entity land in one partition, time-ordered — the
    layout every downstream per-entity window wants — without the global
    range sort of ``orderBy``.
    """
    parts = (
        df.repartition(num_partitions, F.col(entity_col))
        if num_partitions
        else df.repartition(F.col(entity_col))
    )
    return parts.sortWithinPartitions(entity_col, ts_col)


def with_row_observations(
    df: DataFrame, name: str = "pipeline_stats", null_check_cols: list[str] | None = None
) -> tuple[DataFrame, Observation]:
    """A7 — attach row-count (+ per-column null-count) observations.

    Returns (df, observation); read ``observation.get`` AFTER an action
    has run on the returned DataFrame. Replaces the reference's extra
    count() jobs — the metrics ride along with whatever job executes.
    """
    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")]
    for c in null_check_cols or []:
        metrics.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"n_null_{c}")
        )
    return df.observe(obs, *metrics), obs


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
    num_partitions: int | None = None,
    materialize: bool | str = "auto",
) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-partition window —
    the classic two-phase parallel prefix scan.

    A plain ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY collapses
    the whole table into ONE task (Spark even warns about it) — a
    non-starter at 100 TB. Instead:

    1. range-repartition on the order columns (equal keys co-located,
       partitions globally ordered);
    2. per-partition local running sum (ordinary windows, parallel);
    3. per-partition totals (|partitions| rows) get an exclusive running
       offset on the driver-sized side and broadcast back;
    4. running = local + offset of all earlier partitions.

    Ties in ``order_cols`` make intermediate running values
    frame-order-dependent (exactly as SQL's ROWS frame is); the value at
    the END of each tie group — and any MAX/MIN over the running column —
    is deterministic.

    ``materialize`` (round 10, guide §2.4/§5): the locally-scanned stream
    feeds TWO plan references — the main output and the per-partition
    totals — and Catalyst does not share the subtree (exchange reuse
    fails across the AQE-replanned range exchange), so WITHOUT
    materialization the ENTIRE upstream pipeline ran twice (q172's
    before-plan holds two full scan→sessionize→window copies). cache()
    runs it once; it also pins ONE sampled range partitioning, so the
    broadcast offsets provably describe the same _pid layout the main
    stream carries. Pass False to keep the plan fully lazy — but the
    uncached path is correct ONLY while Spark reuses the range exchange
    for both references: with exchange reuse off, the two evaluations
    partition independently and the offsets no longer line up with
    ``_pid`` (1M rows, 8 partitions: 742,044 wrong running sums).
    Computing the range bounds once is ROADMAP open item 1.

    ``"auto"`` (round 11, verdict ask #3 — the default): cache only when
    the optimizer's size estimate for the local stream fits the storage
    budget (``_grs_cache_budget_bytes``). The round-11 spill A/B pinned
    the failure mode the round-10 blanket default had at scale: a 50M-row
    stream (est 1.4 GB) against a 0.6 GB pool ran 55.8 s cached vs 31.2 s
    recomputed (medians of 3; caching a stream that spills costs the
    materialization barrier AND a disk round-trip, where recompute is one
    extra pass over a cheap upstream). An unknown estimate counts as
    too-big — a spilled full-dataset copy at 100 TB is not survivable,
    and recompute carries the exchange-reuse caveat above. The cache
    itself is registered in the bounded query-cache registry either way.
    """
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        if num_partitions
        else df.repartitionByRange(*cols)
    )
    part = part.withColumn("_pid", F.spark_partition_id())
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_local", F.sum(F.col(value_col)).over(w_local))
    if materialize == "auto":
        try:
            est = int(
                local._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        except Exception:
            est = 1 << 62  # unknown size: treat as too big to cache
        materialize = est <= _grs_cache_budget_bytes(local)
    if materialize:
        local = query_scoped_cache(local)
    # exclusive prefix over per-partition totals: |partitions| rows, so the
    # single-partition window here is over a driver-sized set by design
    totals = local.groupBy("_pid").agg(F.sum(value_col).alias("_tot"))
    w_off = (
        Window.orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = totals.withColumn(
        "_off", F.sum("_tot").over(w_off) - F.col("_tot")
    ).select("_pid", "_off")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_local") + F.col("_off"))
        .drop("_pid", "_local", "_off")
    )
