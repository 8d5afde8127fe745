"""Staging→curated trajectory pipeline with incremental / recompute /
full modes (SURVEY §2.9 T1-T3, §3.2).

The computational core is ``compute_trajectory``: seeded gap
sessionization (the reference's voyage segmentation,
``transformations/facts/fact_voyage_trajectory.py:108-168``) + segment
haversine + geohash + movement state, all native column expressions.
``run_trajectory_window`` is the day-windowed runner that seeds from the
prior day's state snapshot so voyages crossing the window boundary keep
their ids — the reference's hardest invariant
(``fact_voyage_trajectory.py:310-332``, verified in
``tests/test_pipelines.py`` incremental-vs-full equality).

Scale notes: one shuffle on the entity key covers lag + prefix-sum +
seed propagation (same window partitioning). Reads of a day-partitioned
table carry a year/month/day partition predicate (the window widened by
a day each side), so the scan opens only the window's partitions. Each
window is evaluated once: the state snapshot (|entities| rows, tiny)
comes from the day partitions the window's write just published (an
``observe()`` on the write collects their dates), read back with the
written schema, not from a second evaluation of the trajectory. The
monthly summary scans the partials once: one rollup aggregation plus a
window over start dates picks the voyages to rewrite. Nothing is
cached: a cached plan is not coalesced by adaptive execution, so the
curated write would land in more, smaller files.
Every mode runs one plan: a full window is seeded from an empty
snapshot, as a first window without a prior snapshot is, so a session
that runs a full recompute and then daily windows compiles the
trajectory stages once, not once per mode.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.spatial import geohash_expr, haversine_km
from noaa_ais_glue_lakehouse_spark.operators.cleaning import movement_state
from noaa_ais_glue_lakehouse_spark.operators.sampling import (
    recompute_segment_distance,
    sample_trajectory,
)
from noaa_ais_glue_lakehouse_spark.operators.sessionize import (
    latest_per_entity,
    sessionize,
)
from noaa_ais_glue_lakehouse_spark.operators.state import prepare_seeded_union
from noaa_ais_glue_lakehouse_spark.pipelines.raw_to_staging import PARTITION_COLS
from noaa_ais_glue_lakehouse_spark.sources.writers import (
    read_state_snapshot_by_date,
    write_partitioned_parquet,
    write_state_snapshot,
)

GAP_SECONDS = 3 * 3600  # reference voyage gap rule: >3h starts a new voyage
ONE_DAY = dt.timedelta(days=1)


def _day_partitions(df: DataFrame, first: dt.date, last: dt.date) -> DataFrame:
    """Keep the year/month/day partitions that can hold rows of the days
    ``first``..``last``. A predicate on partition columns only, so the
    scan prunes by it; one day of slack on each side covers the session
    time zone the partition values were derived in. Tables without the
    three columns pass through (the caller's exact filter still runs)."""
    if not set(PARTITION_COLS) <= set(df.columns):
        return df
    day = F.make_date(*PARTITION_COLS)
    return df.filter(day.between(F.lit(first - ONE_DAY), F.lit(last + ONE_DAY)))


def compute_trajectory(
    df: DataFrame,
    entity_col: str = "MMSI",
    ts_col: str = "BaseDateTime",
    lat_col: str = "LAT",
    lon_col: str = "LON",
    sog_col: str = "SOG",
    seed_col: str | None = None,
    gap_seconds: float = GAP_SECONDS,
) -> DataFrame:
    """Voyage ids + per-segment distance + geohash + movement state.

    Mirrors ``fact_voyage_trajectory.py:108-168``; geohash is the native
    expression (no UDF) and distances come from the same lag window that
    sessionization uses — one entity-key shuffle total.
    """
    out = sessionize(
        df,
        entity_col,
        ts_col,
        gap_seconds,
        session_col="VoyageID",
        seed_col=seed_col,
    )
    w = Window.partitionBy(entity_col).orderBy(ts_col)
    prev_lat, prev_lon = F.lag(lat_col).over(w), F.lag(lon_col).over(w)
    lat, lon = F.col(lat_col), F.col(lon_col)
    return out.withColumns(
        {
            "SegmentDistanceKM": haversine_km(prev_lat, prev_lon, lat, lon),
            "GeoHash": geohash_expr(lat, lon, 6),
            "movement_state": movement_state(sog_col),
        }
    )


def run_trajectory_window(
    spark: SparkSession,
    staging_path: str,
    curated_path: str,
    state_prefix: str,
    start_date: str,
    end_date: str,
    mode: str = "incremental",
    sample: bool = True,
) -> DataFrame:
    """T1/T3 — run one [start_date, end_date] window of the trajectory job.

    - ``incremental``: seed voyage ids from the ``start_date - 1 day``
      state snapshot (first run falls back to empty → ids start at 0).
    - ``recompute``: identical flow; the caller picks an older window to
      rebuild corrupted days — snapshots are dated, so the seed is
      whatever snapshot precedes the window (``docs/05`` semantics).
    - ``full``: ignore state, recompute from scratch (seeded from an
      empty snapshot, so it runs the same plan as the other modes).

    Writes the curated window partitioned by year/month/day (dynamic
    overwrite → only the window's partitions are replaced), then refreshes
    the ``end_date`` state snapshot (reference
    ``fact_voyage_trajectory.py:359-364``) from the rows just committed,
    merged with the prior snapshot. Taking it from the sampled rows is
    exact: sampling keeps each entity's last point of every day, so the
    latest row per entity is the unsampled trajectory's. Only the day
    partitions this call published (observed on the write) are read
    back, so a window day that produced no rows cannot feed stale rows
    into the state. Any other ``mode`` raises ``ValueError``.
    """
    from noaa_ais_glue_lakehouse_spark.schemas import STATE_SNAPSHOT_SCHEMA

    modes = ("incremental", "recompute", "full")
    if mode not in modes:
        raise ValueError(f"unknown window mode {mode!r}; one of {modes}")

    start = dt.date.fromisoformat(start_date)
    end = dt.date.fromisoformat(end_date)
    lo = dt.datetime.combine(start, dt.time.min)
    hi = dt.datetime.combine(end + ONE_DAY, dt.time.min)

    staging = _day_partitions(spark.read.parquet(staging_path), start, end).filter(
        (F.col("BaseDateTime") >= F.lit(lo)) & (F.col("BaseDateTime") < F.lit(hi))
    )

    if mode == "full":
        prior_state = spark.createDataFrame([], STATE_SNAPSHOT_SCHEMA)
    else:
        seed_date = (start - ONE_DAY).isoformat()
        prior_state = read_state_snapshot_by_date(
            spark, state_prefix, seed_date, STATE_SNAPSHOT_SCHEMA
        )
    # every mode runs the same seeded plan (a full window is seeded from
    # an empty snapshot), so one session compiles its generated code once
    base = prepare_seeded_union(
        prior_state, staging, session_col="VoyageID", seed_col="SeedVoyageID"
    )
    curated = (
        compute_trajectory(base, seed_col="SeedVoyageID")
        .filter(~F.col("is_seed"))
        .drop("is_seed", "SeedVoyageID")
    )

    ts = F.col("BaseDateTime")
    out = curated.withColumns(
        {"year": F.year(ts), "month": F.month(ts), "day": F.dayofmonth(ts)}
    )
    if sample:
        out = sample_trajectory(
            out,
            entity_col="MMSI",
            ts_col="BaseDateTime",
            session_col="VoyageID",
            speed_col="SOG",
            day_col=PARTITION_COLS,
        )
        out = recompute_segment_distance(
            out, "MMSI", "BaseDateTime", "LAT", "LON"
        )

    published = Observation()
    write_partitioned_parquet(
        out.observe(published, F.collect_set(F.make_date(*PARTITION_COLS)).alias("days")),
        curated_path,
        PARTITION_COLS,
    )
    # integer partition values need no Hive escaping, so the directories
    # follow from the observed dates
    root = curated_path.rstrip("/")
    day_dirs = [f"{root}/year={d.year}/month={d.month}/day={d.day}" for d in published.get["days"]]
    committed = (
        spark.read.schema(out.schema).option("basePath", root).parquet(*day_dirs)
        if day_dirs
        else spark.createDataFrame([], out.schema)
    )
    # MERGED with the prior snapshot: an entity silent this window keeps
    # its last-known row, otherwise its voyage counter would restart at 0
    # on reappearance and collide with its historical voyage ids
    new_state = committed.select(
        "MMSI", "BaseDateTime", "LAT", "LON", "VoyageID"
    ).unionByName(prior_state)
    write_state_snapshot(
        latest_per_entity(new_state, "MMSI", "BaseDateTime"), state_prefix, end_date
    )
    return out


def run_voyage_summary_monthly(
    spark: SparkSession,
    curated_path: str,
    partials_path: str,
    summary_path: str,
    month: str,
) -> DataFrame:
    """T5 end-to-end — daily partials for ``month`` (YYYY-MM) + monthly
    rebuild, mirroring ``pipelines/voyage_summary_monthly.py`` →
    ``fact_voyage_daily`` / ``fact_monthly_summary``.

    The month's partials are (re)written partitioned by day (dynamic
    overwrite = embarrassingly rerunnable). The rollup then scans the
    *full* partials table once: one aggregation per (mmsi, voyageid)
    gives the voyage's sums plus its first day and whether any of its
    days falls in ``month``, so month-spanning voyages aggregate over
    their complete history; it writes one row per voyage partitioned by
    voyagestartdate.
    """
    first = dt.date.fromisoformat(f"{month}-01")
    last = (first + 31 * ONE_DAY).replace(day=1) - ONE_DAY
    curated = _day_partitions(spark.read.parquet(curated_path), first, last).filter(
        F.date_format("BaseDateTime", "yyyy-MM") == month
    )
    partials = voyage_daily_partials(curated)
    write_partitioned_parquet(partials, partials_path, ["day"])

    # read back with the written schema: no schema-inference job, and
    # 'day' stays the YYYY-MM-DD string the partials were keyed by
    all_partials = spark.read.schema(partials.schema).parquet(partials_path)
    rolled = all_partials.groupBy("mmsi", "voyageid").agg(
        *_rollup_aggs(),
        F.min("day").alias("_first_day"),
        F.max(F.substring("day", 1, 7) == month).alias("_in_month"),
    )
    # The write below dynamically overwrites every voyagestartdate partition
    # this month's voyages start on. Other voyages starting on those same
    # dates (touched by earlier/later months) would be deleted with the
    # partition unless they are recomputed too — so keep every voyage that
    # shares its first partial day with one of this month's voyages. (A
    # voyage's start date IS its min 'day' partial: day_first_time is
    # bounded by that day.)
    affected = F.max("_in_month").over(Window.partitionBy("_first_day"))
    summary = _summary_columns(rolled.withColumn("_affected", affected).filter("_affected"))
    write_partitioned_parquet(summary, summary_path, ["voyagestartdate"])
    return summary


def voyage_daily_partials(df: DataFrame) -> DataFrame:
    """T5/A1 — per-(mmsi, voyageid, day) partial aggregates.

    Reference: ``transformations/facts/fact_voyage_daily.py:108-135``.
    Map-side-combinable hash aggregation; the 'day' string key matches
    the reference's YYYY-MM-DD grain.
    """
    return (
        df.select(
            F.col("MMSI").alias("mmsi"),
            F.col("VoyageID").alias("voyageid"),
            F.date_format("BaseDateTime", "yyyy-MM-dd").alias("day"),
            F.col("BaseDateTime").alias("t"),
            F.col("SegmentDistanceKM").alias("dist"),
            F.col("SOG").alias("sog"),
            F.col("LAT").alias("lat"),
            F.col("LON").alias("lon"),
        )
        .groupBy("mmsi", "voyageid", "day")
        .agg(
            F.min("t").alias("day_first_time"),
            F.max("t").alias("day_last_time"),
            F.sum("dist").alias("day_distance_km"),
            F.sum("sog").alias("day_sum_sog"),
            F.count(F.lit(1)).alias("day_pointcount"),
            F.sum("lat").alias("day_sum_lat"),
            F.sum("lon").alias("day_sum_lon"),
        )
    )


def monthly_voyage_summary(partials: DataFrame) -> DataFrame:
    """T5/A2-A4 — roll daily partials up to one row per (mmsi, voyageid).

    Sum-of-sums / min-of-mins decomposition plus derived metrics,
    mirroring ``transformations/facts/fact_monthly_summary.py:79-136``.
    """
    return _summary_columns(partials.groupBy("mmsi", "voyageid").agg(*_rollup_aggs()))


def _rollup_aggs() -> list:
    """Per-voyage sums of the daily partials (sum-of-sums, min-of-mins)."""
    return [
        F.min("day_first_time").alias("voyagestart"),
        F.max("day_last_time").alias("voyageend"),
        F.sum("day_distance_km").alias("totaldistancekm"),
        F.sum("day_sum_sog").alias("sum_sog"),
        F.sum("day_pointcount").alias("pointcount"),
        F.sum("day_sum_lat").alias("sum_lat"),
        F.sum("day_sum_lon").alias("sum_lon"),
    ]


def _summary_columns(rolled: DataFrame) -> DataFrame:
    """The summary's derived metrics over one rolled-up row per voyage."""
    dur_h = (
        F.unix_timestamp("voyageend") - F.unix_timestamp("voyagestart")
    ) / 3600.0
    return rolled.select(
        "mmsi",
        "voyageid",
        "voyagestart",
        "voyageend",
        F.round(dur_h, 6).alias("duration_hours"),
        F.round("totaldistancekm", 6).alias("totaldistancekm"),
        F.round(
            F.when(dur_h > 0, F.col("totaldistancekm") / dur_h), 6
        ).alias("avgspeed"),
        F.round(F.col("sum_lat") / F.col("pointcount"), 6).alias("avglat"),
        F.round(F.col("sum_lon") / F.col("pointcount"), 6).alias("avglon"),
        "pointcount",
        F.to_date("voyagestart").alias("voyagestartdate"),
    )
