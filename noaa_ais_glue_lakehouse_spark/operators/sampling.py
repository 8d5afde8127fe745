"""Trajectory thinning / endpoint-preserving downsampling (SURVEY §2.9 T6,
windows W5/W7/W8).

Reference algorithm (``transformations/facts/fact_voyage_trajectory.py:175-285``,
rationale ``docs/06-ais-sampling-behaviour.md``): keep

- the first and last row per (entity, day)                 [endpoints]
- for *moving* rows: first and last per (entity, session, time-bucket),
  where the bucket is speed-conditional — 600 s when fast (SOG ≥ 10),
  900 s when slow                                           [W7 + W5]
- for *anchored* rows: first and last per (entity, day)

then recompute lag distances on the thinned timeline        [W8].

~95% row reduction at reference scale (14.59M → 727k rows / 2 days).

All keep-flags are row_number()==1 over windows sharing the entity
partition key — one shuffle, several window passes over the same sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def add_time_bucket(
    df: DataFrame,
    ts_col: str,
    speed_col: str,
    fast_threshold: float = 10.0,
    fast_seconds: int = 600,
    slow_seconds: int = 900,
    bucket_col: str = "time_bucket",
) -> DataFrame:
    """W7 — speed-conditional time-bucket quantization.

    Reference: ``fact_voyage_trajectory.py:221-231`` (params ``:175-180``).
    """
    bucket_size = F.when(F.col(speed_col) >= fast_threshold, fast_seconds).otherwise(
        slow_seconds
    )
    return df.withColumn(
        bucket_col, F.floor(F.unix_timestamp(F.col(ts_col)) / bucket_size).cast("long")
    )


def _first_last_flags(df: DataFrame, partition_cols: list[str], order_cols: list) -> F.Column:
    asc = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    desc = Window.partitionBy(*partition_cols).orderBy(*[c.desc() for c in order_cols])
    return (F.row_number().over(asc) == 1) | (F.row_number().over(desc) == 1)


def sample_trajectory(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    session_col: str,
    speed_col: str,
    day_col: str | list[str],
    moving_col: str = "movement_state",
    tiebreak_cols: list[str] | None = None,
    fast_threshold: float = 10.0,
    fast_seconds: int = 600,
    slow_seconds: int = 900,
) -> DataFrame:
    """T6 — endpoint-preserving thinning with speed-conditional cadence.

    Keep-flag union (reference ``fact_voyage_trajectory.py:241-267``):
    day endpoints ∪ per-(session,bucket) endpoints for moving rows ∪
    per-day endpoints for anchored rows. (The reference's anchored flags
    duplicate its day flags — SURVEY §7.4.9 — so the union here is
    semantically identical while computing one window fewer.) A day
    column that repeats across months (``dayofmonth``) must come with
    its year and month: ``day_col`` accepts a list for that composite
    key, as the reference keys its day flags by (MMSI, year, month, day).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    out = add_time_bucket(
        df, ts_col, speed_col, fast_threshold, fast_seconds, slow_seconds
    )

    day_cols = [day_col] if isinstance(day_col, str) else list(day_col)
    keep_day = _first_last_flags(out, [entity_col, *day_cols], order)
    keep_bucket = _first_last_flags(
        out, [entity_col, session_col, "time_bucket"], order
    )
    is_moving = F.col(moving_col) == "moving"

    out = out.withColumn("_keep", keep_day | (is_moving & keep_bucket))
    return out.filter(F.col("_keep")).drop("_keep", "time_bucket")


def recompute_segment_distance(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    out_col: str = "SegmentDistanceKM",
) -> DataFrame:
    """W8 — re-lag lat/lon on the thinned timeline and re-haversine.

    Reference: ``fact_voyage_trajectory.py:272-280``.
    """
    from noaa_ais_glue_lakehouse_spark.functions.spatial import haversine_km

    w = Window.partitionBy(entity_col).orderBy(ts_col)
    prev_lat = F.lag(lat_col).over(w)
    prev_lon = F.lag(lon_col).over(w)
    return df.withColumn(
        out_col, haversine_km(prev_lat, prev_lon, F.col(lat_col), F.col(lon_col))
    )
