"""Raw→staging pipeline (SURVEY §3.1): the cleaning chain as one pure
function plus a thin runner that owns IO.

Chain order preserves the reference exactly
(``pipelines/raw_to_staging.py:79-143``): normalize → schema-align →
empty→null → timestamp parse + partition derive → coordinate split →
clamp → content dedup → movement flag. Two deliberate departures, both
SURVEY §7.4 resolutions:

- partition columns year/month/day are cast to INT before the write
  (the reference wrote strings against an int-declared schema);
- quarantine rows keep their own year/month/day (partition-aware sink)
  instead of stamping the whole spill with ``df.first()``'s values.

Scale: the runner parses each input once. It persists the shared prefix
(scan → one projection that normalizes, schema-aligns and nulls empties →
timestamp parse) with ``MEMORY_AND_DISK``, and the quarantine bounded
count, the quarantine write and the staging write all read that one
materialization instead of each re-running the scan and the parse. Blocks
that exceed executor storage memory spill to local disk, so a large
backfill costs a local disk read, not a failure or a second scan. The
cache is released in a ``finally`` on every exit. Each row's per-row work
runs once: the timestamp parse tries only the one format the string's
shape allows, and the unparseable-row filter sits above the cache (a
filter on the parse would be pushed below it and evaluate it twice).
After the prefix the chain is narrow until the D1 dedup, a hash aggregate
on the row's own columns (no sort, no per-row hash key). The partitioned
write reuses that shuffle's layout when AQE is on. The chain's
projections are few and built from SQL strings, so building the plan
costs the driver ~0.1 s per drop, not ~0.35 s. At 100 TB the input is a
partitioned table root; Catalyst prunes the day window from the filter,
replacing the reference's driver-side path enumeration.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from noaa_ais_glue_lakehouse_spark.operators.cleaning import (
    clean_coordinates,
    clean_sog_cog_heading,
    conform_raw_columns,
    dedup_by_content_hash,
    movement_flag,
    parse_base_datetime,
    with_sql_columns,
)
from noaa_ais_glue_lakehouse_spark.schemas import AIS_RAW_SCHEMA
from noaa_ais_glue_lakehouse_spark.sources.readers import read_csv_with_header
from noaa_ais_glue_lakehouse_spark.sources.writers import (
    write_partitioned_parquet,
    write_quarantine,
)

PARTITION_COLS = ["year", "month", "day"]


def parse_raw(df: DataFrame) -> DataFrame:
    """P1→P4: the prefix both outputs share — normalize, schema-align and
    empty→null as one projection, then the timestamp parse and the
    year/month/day strings. Unparseable rows keep a NULL ``BaseDateTime``
    here and ``split_and_clean`` drops them: a filter on the parse would
    be pushed below it by the optimizer and run it twice per row, while
    above the runner's persisted prefix it reads one cached column."""
    return parse_base_datetime(
        conform_raw_columns(df, AIS_RAW_SCHEMA), drop_unparseable=False
    )


def split_and_clean(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P4's unparseable-row drop, then P5→P7 + D1 over ``parse_raw``'s
    output → (staging, quarantine): coordinate split, clamp, content
    dedup, movement flag, INT partitions."""
    valid, invalid = clean_coordinates(parsed.filter("BaseDateTime IS NOT NULL"))
    valid = dedup_by_content_hash(clean_sog_cog_heading(valid))
    # SURVEY §7.4.4 resolution: INT partition columns
    as_int = {c: f"CAST({c} AS INT)" for c in PARTITION_COLS}
    valid = with_sql_columns(valid, {"MovementFlag": movement_flag(), **as_int})
    return valid, with_sql_columns(invalid, as_int)


def transform_raw_to_staging(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P1→P7 + D1 over a raw-zone DataFrame → (staging, quarantine).

    Pure function: no IO, no session access — unit-testable on literal
    DataFrames exactly like the reference's integration slice
    (``tests/integration/test_integration_pipeline.py:11-35``).
    """
    return split_and_clean(parse_raw(df))


def run_raw_to_staging(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    quarantine_path: str | None = None,
) -> dict[str, int]:
    """Read raw CSV, clean, write partitioned staging parquet (+quarantine).

    Returns counters. The reference's per-day driver loop
    (``raw_to_staging.py:233-236``) is unnecessary: dynamic partition
    overwrite scopes the write to whatever days the input contains.
    """
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        with_row_observations,
    )

    raw = read_csv_with_header(spark, input_path)
    # both outputs branch off the parse: persisted so the bounded count and
    # the two writes share one scan (see "Scale" above)
    parsed = parse_raw(raw).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        staging, quarantine = split_and_clean(parsed)
        n_quarantined = (
            write_quarantine(quarantine, quarantine_path, PARTITION_COLS)
            if quarantine_path
            else 0
        )
        # A7: row counters ride along with the write job (observe()),
        # replacing the reference's extra count() jobs behind LOG_COUNTS
        staging, obs = with_row_observations(staging, null_check_cols=["MMSI"])
        write_partitioned_parquet(staging, output_path, PARTITION_COLS)
        metrics = obs.get
    finally:
        parsed.unpersist()
    return {
        "rows_written": metrics["n_rows"],
        "null_mmsi": metrics["n_null_MMSI"],
        "quarantined": n_quarantined,
    }
