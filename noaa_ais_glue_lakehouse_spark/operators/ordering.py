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

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

# global_running_sum: order keys sampled, and range buckets drawn, per
# shuffle partition
_SAMPLE_ROWS_PER_PARTITION = 100
_BUCKETS_PER_PARTITION = 4
_SAMPLE_SEED = 17


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


def _portable(field: StructField) -> Column:
    """A key column in a form that survives ``collect()`` exactly.

    A Python ``datetime`` does not: it is read and written in the Python
    process's time zone, which maps both 01:30s of a DST fall-back to one
    instant and shifts a TIMESTAMP_NTZ wall time by that zone's offset.
    So TIMESTAMP travels as epoch micros and TIMESTAMP_NTZ as its
    wall-clock string; every other type as its Python value."""
    if isinstance(field.dataType, TimestampType):
        return F.unix_micros(field.name).alias(field.name)
    if isinstance(field.dataType, TimestampNTZType):
        return F.col(field.name).cast("string").alias(field.name)
    return F.col(field.name)


def _bound_literal(value, dtype) -> Column:
    """A collected ``_portable`` value as a literal of its column's type."""
    if isinstance(dtype, TimestampType) and value is not None:
        return F.timestamp_micros(F.lit(value))
    return F.lit(value).cast(dtype)


def _with_range_bucket(df: DataFrame, key_type: StructType, bounds: list) -> DataFrame:
    """``df`` plus ``_pid`` = the number of ``bounds`` at or below the
    row's order key (the columns of ``key_type``).

    A binary search over ONE array literal of the bounds, unrolled into
    one projection per probe (log2 |bounds| of them; each reads the
    previous ``_pid`` more than once, so Catalyst keeps them apart). Its
    generated code grows with log |bounds|, where a CASE tree with one
    literal per bound grows linearly and, past ~150 bounds, exceeds the
    method size the JVM will JIT-compile (5M rows, 4 cores: 3.2 s at 199
    bounds vs 0.55 s for this search). Padding with the last bound keeps
    every probe in range; the padded copies only leave empty buckets."""
    key = F.struct(*key_type.names)
    types = [f.dataType for f in key_type.fields]
    steps = len(bounds).bit_length()
    padded = bounds + bounds[-1:] * ((1 << steps) - 1 - len(bounds))
    # typed as the key, so the cast folds and no probe casts per row; a
    # string-cast TIMESTAMP_NTZ literal is nullable, so its field must be
    bound_type = StructType(
        [
            StructField(f.name, f.dataType, f.nullable or isinstance(f.dataType, TimestampNTZType))
            for f in key_type.fields
        ]
    )
    arr = F.array(
        *[F.struct(*[_bound_literal(v, t) for v, t in zip(b, types)]) for b in padded]
    ).cast(ArrayType(bound_type, containsNull=False))
    out = df.withColumn("_pid", F.lit(0))
    for s in reversed(range(steps)):
        probe = F.col("_pid") + (1 << s)
        out = out.withColumn(
            "_pid", F.when(key >= F.element_at(arr, probe), probe).otherwise(F.col("_pid"))
        )
    return out


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running",
) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-partition window —
    the classic two-phase parallel prefix scan.

    A plain ``SUM() OVER (ORDER BY ...)`` with no PARTITION BY collapses
    the whole table into ONE task (Spark even warns about it) — a
    non-starter at 100 TB. Instead:

    1. range bounds, once, at plan-build time: a seeded sample of
       ``100 x n`` order keys (``n = spark.sql.shuffle.partitions``),
       sorted by Spark so NULL-first, NaN-last and -0.0 = 0.0 match the
       window's sort, gives ``4n - 1`` evenly spaced bounds — four range
       buckets per shuffle partition, because hashing only ``n`` bucket
       ids into ``n`` partitions leaves about 1/e of them empty;
    2. ``_pid`` = number of bounds <= the row's key — a deterministic
       function of the key, so every evaluation of the plan agrees on it
       with or without exchange reuse (duplicate bounds only leave an
       empty bucket; an empty input has no bounds and one bucket);
    3. per-bucket local running sum (ordinary windows, parallel);
    4. per-bucket totals (|buckets| rows) get an exclusive running
       offset and are broadcast back; running = local + offset.

    Ties in ``order_cols`` make intermediate running values
    frame-order-dependent (exactly as SQL's ROWS frame is); the value at
    the END of each tie group — and any MAX/MIN over the running column —
    is deterministic.

    There is no cache: with exchange reuse on, the stream's two
    references (local sums, totals) read one shuffle, and with it off
    they recompute to the same buckets. The bounds job does evaluate
    the input once more, at plan-build time.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    keys = df.select(*order_cols)
    sample = (
        keys.orderBy(F.rand(_SAMPLE_SEED))
        .limit(_SAMPLE_ROWS_PER_PARTITION * n)
        .orderBy(*order_cols)
        .select(*[_portable(f) for f in keys.schema.fields])
        .collect()
    )
    buckets = _BUCKETS_PER_PARTITION * n
    bounds = (
        [tuple(sample[i * len(sample) // buckets]) for i in range(1, buckets)] if sample else []
    )
    cols = [F.col(c) for c in order_cols]
    keyed = _with_range_bucket(df, keys.schema, bounds)
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = keyed.withColumn("_local", F.sum(F.col(value_col)).over(w_local))
    # exclusive prefix over per-bucket totals: |buckets| rows, so the
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
