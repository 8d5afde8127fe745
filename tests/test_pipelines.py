"""End-to-end pipeline tests: raw→staging integration slice (mirrors the
reference's only e2e test) and the incremental-vs-full trajectory
equality — the invariant the state-snapshot machinery exists for.
"""

from __future__ import annotations

import csv
import datetime as dt
import re

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.pipelines.raw_to_staging import (
    run_raw_to_staging,
    transform_raw_to_staging,
)
from noaa_ais_glue_lakehouse_spark.pipelines.staging_to_curated import (
    compute_trajectory,
    monthly_voyage_summary,
    run_trajectory_window,
    run_voyage_summary_monthly,
    voyage_daily_partials,
)
from noaa_ais_glue_lakehouse_spark.schemas import STATE_SNAPSHOT_SCHEMA
from noaa_ais_glue_lakehouse_spark.sources.writers import read_state_snapshot_by_date


def _raw_rows():
    # 4-row slice like the reference integration test: one survivor, one
    # duplicate replay, one bad timestamp, one bad coordinate
    return [
        ("100", "2024-01-01 10:00:00", "10.0", "20.0", "5.0", "90.0", "91.0"),
        ("100", "2024-01-01 10:00:00", "10.0", "20.0", "5.0", "90.0", "91.0"),
        ("101", "not-a-date", "10.0", "20.0", "1.0", "1.0", "1.0"),
        ("102", "2024-01-01 11:00:00", "95.0", "20.0", "1.0", "1.0", "1.0"),
    ]


_RAW_COLS = ["mmsi", "base_date_time", "latitude", "longitude", "sog", "cog", "heading"]


def _write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)
    return str(path)


def test_transform_raw_to_staging_slice(spark):
    df = spark.createDataFrame(_raw_rows(), _RAW_COLS)
    staging, quarantine = transform_raw_to_staging(df)
    rows = staging.collect()
    assert len(rows) == 1  # dup dropped, bad ts dropped, bad coord quarantined
    r = rows[0]
    assert r["MMSI"] == 100
    assert r["BaseDateTime"] == dt.datetime(2024, 1, 1, 10)
    assert r["MovementFlag"] == 1
    assert (r["year"], r["month"], r["day"]) == (2024, 1, 1)
    assert quarantine.count() == 1
    assert quarantine.first()["MMSI"] == 102


def test_run_raw_to_staging_files(spark, tmp_path):
    src = _write_csv(tmp_path / "raw.csv", _RAW_COLS, _raw_rows())
    out = str(tmp_path / "staging")
    q = str(tmp_path / "quarantine")
    counters = run_raw_to_staging(spark, src, out, q)
    assert counters["quarantined"] == 1
    assert counters["rows_written"] == 1  # observe() metric, no extra job
    assert counters["null_mmsi"] == 0
    got = spark.read.parquet(out)
    assert got.count() == 1
    assert got.first()["year"] == 2024


def test_run_raw_to_staging_non_numeric_values_become_null(spark, tmp_path):
    """A malformed number nulls its field instead of aborting the drop
    (under ANSI a cast raised CAST_INVALID_INPUT): a NULL MMSI is counted,
    a NULL LAT goes to quarantine, a NULL Heading is kept."""
    rows = [
        ("N/A", "2024-01-01 10:00:00", "10.0", "20.0", "5.0", "90.0", "91.0"),
        ("103", "2024-01-01 10:05:00", "abc", "20.0", "1.0", "1.0", "1.0"),
        ("104", "2024-01-01 10:10:00", "11.0", "21.0", "1.0", "1.0", "x"),
    ]
    src = _write_csv(tmp_path / "raw.csv", _RAW_COLS, rows)
    out = str(tmp_path / "staging")
    counters = run_raw_to_staging(spark, src, out, str(tmp_path / "q"))
    assert counters == {"rows_written": 2, "null_mmsi": 1, "quarantined": 1}
    assert {r["MMSI"]: r["Heading"] for r in spark.read.parquet(out).collect()} == {
        None: 91.0,
        104: None,
    }


def test_staging_dedup_plans_as_one_hash_aggregate(spark):
    """D1 groups on the row's own columns: a buffer-free hash aggregate, no
    sort, no sha2 key (the sha2 recipe planned two SortAggregates)."""
    staging, _ = transform_raw_to_staging(spark.createDataFrame(_raw_rows(), _RAW_COLS))
    plan = staging._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "SortAggregate" not in plan and "sha2" not in plan
    assert not re.search(r"\bSort \[", plan)


def _drifted_rows(n):
    """A drifted drop: renamed columns, no Heading, an extra column, mixed
    timestamp formats over two days, bad timestamps, out-of-range
    coordinates, empty fields and replayed (duplicate) lines."""
    header = ["mmsi", "base_date_time", "latitude", "longitude", "sog", "cog", "Extra"]
    formats = ["2024-01-0{d} {h:02d}:{m:02d}:00", "2024-01-0{d}T{h:02d}:{m:02d}:00Z",
               "2024-01-0{d}T{h:02d}:{m:02d}:00.250", "2024-01-0{d} {h:02d}:{m:02d}:00+02:00"]
    rows = []
    for i in range(n):
        ts = formats[i % 4].format(d=1 + i % 2, h=i % 24, m=i % 60)
        if i % 17 == 0:
            ts = "not-a-date"
        lat = 95.0 if i % 13 == 0 else (i % 180) - 89.5
        lon = -181.0 if i % 11 == 0 else (i % 360) - 179.5
        sog = "" if i % 7 == 0 else str((i % 150) / 1.5)
        row = [str(200 + i % 23), ts, str(lat), str(lon), sog, str(i % 400), f"x{i}"]
        rows.append(row)
        if i % 5 == 0:
            rows.append(row)
    return header, rows


def _local_bytes_read(spark) -> int:
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem
    return sum(s.getBytesRead() for s in fs.getAllStatistics() if s.getScheme() == "file")


def test_run_raw_to_staging_scans_input_once(spark, tmp_path):
    """The quarantine count, the quarantine write and the staging write
    share one parse of the drop: the local filesystem reads the CSV about
    once per call (the header probe adds a few KB), not once per sink."""
    header, rows = _drifted_rows(20_000)
    src = _write_csv(tmp_path / "raw.csv", header, rows)
    size = (tmp_path / "raw.csv").stat().st_size
    before = _local_bytes_read(spark)
    counters = run_raw_to_staging(spark, src, str(tmp_path / "staging"), str(tmp_path / "q"))
    read = _local_bytes_read(spark) - before
    assert counters["quarantined"] > 0 and counters["rows_written"] > 0
    assert size <= read < 1.5 * size, read / size


def test_run_raw_to_staging_releases_parse_cache(spark, tmp_path, monkeypatch):
    """The persisted parse is live during the writes and released on every
    exit, including a staging write that fails (output path is a file)."""
    from noaa_ais_glue_lakehouse_spark.pipelines import raw_to_staging
    from noaa_ais_glue_lakehouse_spark.sources.readers import read_csv_with_header

    src = _write_csv(tmp_path / "raw.csv", *_drifted_rows(200))
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def state():
        prefix = raw_to_staging.parse_raw(read_csv_with_header(spark, src))
        cached = cache_manager.lookupCachedData(prefix._jdf).isDefined()
        return cached, set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    during = []
    real_write = raw_to_staging.write_partitioned_parquet

    def spy_write(*args, **kwargs):
        during.append(state())
        return real_write(*args, **kwargs)

    monkeypatch.setattr(raw_to_staging, "write_partitioned_parquet", spy_write)
    before = state()
    assert before[0] is False
    raw_to_staging.run_raw_to_staging(spark, src, str(tmp_path / "staging"), str(tmp_path / "q"))
    assert state() == before

    blocker = tmp_path / "not_a_dir"
    blocker.write_text("x")
    with pytest.raises(Py4JJavaError):
        raw_to_staging.run_raw_to_staging(spark, src, str(blocker), str(tmp_path / "q2"))
    assert state() == before
    assert len(during) == 2
    for cached, rdds in during:
        assert cached and len(rdds - before[1]) == 1


def test_run_raw_to_staging_equals_transform_on_drifted_input(spark, tmp_path):
    """The runner (persisted parse, two sinks) writes exactly the rows of
    the pure composition on the same drifted drop."""
    from noaa_ais_glue_lakehouse_spark.sources.readers import read_csv_with_header

    src = _write_csv(tmp_path / "raw.csv", *_drifted_rows(600))
    out = str(tmp_path / "staging")
    counters = run_raw_to_staging(spark, src, out, str(tmp_path / "q"))
    staging, quarantine = transform_raw_to_staging(read_csv_with_header(spark, src))

    def digest(df, cols):
        h = F.xxhash64(*cols).cast("decimal(20,0)")
        return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())

    cols = staging.columns
    want = digest(staging, cols)
    assert want[0] == counters["rows_written"] > 0
    assert digest(spark.read.parquet(out).select(*cols), cols) == want
    assert counters["quarantined"] == quarantine.count() > 0


def test_trajectory_window_sampled_path(spark, tmp_path):
    """sample=True endpoint-preserving thinning through the runner: per
    (entity, day) the first and last points always survive and distances
    are recomputed on the thinned timeline (window-first rows NULL)."""
    staging_path = str(tmp_path / "staging")
    _staging_df(spark).write.parquet(staging_path)
    out = run_trajectory_window(
        spark, staging_path, str(tmp_path / "curated"), str(tmp_path / "state"),
        "2024-01-01", "2024-01-02", mode="full", sample=True,
    )
    rows = out.filter(F.col("MMSI") == 1).orderBy("BaseDateTime").collect()
    times = [r["BaseDateTime"] for r in rows]
    import datetime as dt

    assert times[0] == dt.datetime(2024, 1, 1, 20)   # day-1 first kept
    assert dt.datetime(2024, 1, 1, 22) in times      # day-1 last kept
    assert times[-1] == dt.datetime(2024, 1, 2, 10)  # day-2 last kept
    assert rows[0]["SegmentDistanceKM"] is None      # thinned re-lag


def _staging_df(spark):
    """Two days of per-vessel points with a voyage crossing midnight."""
    rows = []
    for mmsi in (1, 2):
        # day-1 evening voyage ...
        rows += [
            (mmsi, dt.datetime(2024, 1, 1, 20), 10.0 + mmsi, 20.0, 5.0),
            (mmsi, dt.datetime(2024, 1, 1, 22), 10.1 + mmsi, 20.1, 6.0),
            # ... continues across midnight (2h gap < 3h threshold)
            (mmsi, dt.datetime(2024, 1, 2, 0, 30), 10.2 + mmsi, 20.2, 7.0),
            # new voyage after >3h silence
            (mmsi, dt.datetime(2024, 1, 2, 9), 11.0 + mmsi, 21.0, 0.0),
            (mmsi, dt.datetime(2024, 1, 2, 10), 11.0 + mmsi, 21.0, 0.2),
        ]
    return spark.createDataFrame(
        rows, ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"]
    )


def test_incremental_equals_full_recompute(spark, tmp_path):
    staging_path = str(tmp_path / "staging")
    _staging_df(spark).write.parquet(staging_path)

    # full: both days in one window, no seeding
    full = run_trajectory_window(
        spark,
        staging_path,
        str(tmp_path / "curated_full"),
        str(tmp_path / "state_full"),
        "2024-01-01",
        "2024-01-02",
        mode="full",
        sample=False,
    )
    want = {
        (r["MMSI"], r["BaseDateTime"]): r["VoyageID"]
        for r in full.collect()
    }

    # incremental: day 1, then day 2 seeded from day 1's snapshot
    curated = str(tmp_path / "curated_inc")
    state = str(tmp_path / "state_inc")
    run_trajectory_window(
        spark, staging_path, curated, state, "2024-01-01", "2024-01-01",
        mode="incremental", sample=False,
    )
    run_trajectory_window(
        spark, staging_path, curated, state, "2024-01-02", "2024-01-02",
        mode="incremental", sample=False,
    )
    got = {
        (r["MMSI"], r["BaseDateTime"]): r["VoyageID"]
        for r in spark.read.parquet(curated).collect()
    }
    assert got == want
    # the midnight-crossing voyage must keep one id; the 9:00 voyage a new one
    assert want[(1, dt.datetime(2024, 1, 2, 0, 30))] == want[(1, dt.datetime(2024, 1, 1, 20))]
    assert want[(1, dt.datetime(2024, 1, 2, 9))] == want[(1, dt.datetime(2024, 1, 2, 0, 30))] + 1


def _ops_above_union(df) -> list[str]:
    """Operator names of the optimized plan from the root down to the
    seeded union; the branches below it read each mode's snapshot."""
    tree = df._jdf.queryExecution().optimizedPlan().treeString()
    ops = [re.sub(r"^[\s:+-]*", "", line).split(" ")[0] for line in tree.splitlines()]
    return ops[: ops.index("Union") + 1]


def test_full_and_seeded_windows_run_one_plan(spark, tmp_path):
    """A full window is seeded from an empty snapshot, so above the seeded
    union its plan is the incremental window's: a session compiles the
    trajectory stages once for every mode."""
    staging_path = str(tmp_path / "staging")
    _staging_df(spark).write.parquet(staging_path)
    curated, state = str(tmp_path / "curated"), str(tmp_path / "state")
    full = run_trajectory_window(
        spark, staging_path, curated, state, "2024-01-01", "2024-01-01", mode="full"
    )
    seeded = run_trajectory_window(
        spark, staging_path, curated, state, "2024-01-02", "2024-01-02",
        mode="incremental",
    )
    assert _ops_above_union(full) == _ops_above_union(seeded)


def test_silent_entity_keeps_voyage_counter(spark, tmp_path):
    """An entity with no data in a window must keep its snapshot row, so a
    later reappearance continues its voyage ids instead of restarting at 0
    and colliding with historical keys."""
    rows = [
        # day 1: two separate voyages (gap > 3h) → ids 0 and 1
        (5, dt.datetime(2024, 1, 1, 1), 10.0, 20.0, 5.0),
        (5, dt.datetime(2024, 1, 1, 10), 10.5, 20.5, 5.0),
        # day 2: silence
        # day 3: reappears after a long gap → must be voyage 2, not 0
        (5, dt.datetime(2024, 1, 3, 1), 11.0, 21.0, 5.0),
    ]
    staging = str(tmp_path / "staging")
    spark.createDataFrame(
        rows, ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"]
    ).write.parquet(staging)
    curated = str(tmp_path / "curated")
    state = str(tmp_path / "state")
    for d in ("2024-01-01", "2024-01-02", "2024-01-03"):
        run_trajectory_window(
            spark, staging, curated, state, d, d, mode="incremental", sample=False
        )
    got = {
        r["BaseDateTime"]: r["VoyageID"]
        for r in spark.read.parquet(curated).collect()
    }
    assert got[dt.datetime(2024, 1, 3, 1)] == 2


def test_monthly_rerun_preserves_other_months_voyages(spark, tmp_path):
    """Dynamic overwrite of a voyagestartdate partition must not delete
    summaries of voyages that start the same date but belong to a
    different month's run."""
    from noaa_ais_glue_lakehouse_spark.pipelines.staging_to_curated import (
        run_voyage_summary_monthly,
    )

    # voyage A: Jan 31 only. voyage B: starts Jan 31, continues into Feb.
    rows = [
        (1, dt.datetime(2024, 1, 31, 8), 10.0, 20.0, 5.0),
        (1, dt.datetime(2024, 1, 31, 9), 10.1, 20.1, 5.0),
        (2, dt.datetime(2024, 1, 31, 22), 30.0, 40.0, 5.0),
        (2, dt.datetime(2024, 2, 1, 0, 30), 30.1, 40.1, 5.0),
    ]
    curated = str(tmp_path / "curated")
    compute_trajectory(
        spark.createDataFrame(rows, ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"])
    ).write.parquet(curated)
    partials = str(tmp_path / "partials")
    summary = str(tmp_path / "summary")
    run_voyage_summary_monthly(spark, curated, partials, summary, "2024-01")
    run_voyage_summary_monthly(spark, curated, partials, summary, "2024-02")
    got = spark.read.parquet(summary)
    rows_by_key = {(r["mmsi"], r["voyageid"]): r for r in got.collect()}
    # voyage A must survive the Feb run's rewrite of the Jan-31 partition
    assert (1, 0) in rows_by_key
    assert (2, 0) in rows_by_key
    # and voyage B's Feb rollup covers both days
    assert rows_by_key[(2, 0)]["pointcount"] == 2


def test_quarantine_second_day_preserves_first(spark, tmp_path):
    from noaa_ais_glue_lakehouse_spark.sources.writers import write_quarantine

    q = str(tmp_path / "q")
    d1 = spark.createDataFrame([(1, 2024, 1, 1)], ["v", "year", "month", "day"])
    d2 = spark.createDataFrame([(2, 2024, 1, 2)], ["v", "year", "month", "day"])
    assert write_quarantine(d1, q) == 1
    assert write_quarantine(d2, q) == 1
    import os

    assert os.path.isdir(q + "/year=2024/month=1/day=1")
    assert os.path.isdir(q + "/year=2024/month=1/day=2")


def test_trajectory_columns(spark):
    df = _staging_df(spark)
    out = compute_trajectory(df)
    cols = set(out.columns)
    assert {"VoyageID", "SegmentDistanceKM", "GeoHash", "movement_state"} <= cols
    g = out.filter(F.col("GeoHash").isNull()).count()
    assert g == 0


def test_run_voyage_summary_monthly_files(spark, tmp_path):
    """T5 through real file IO: partials partitioned by day, semi-join on
    month voyage keys, summary partitioned by start date; rerunnable."""
    curated = str(tmp_path / "curated")
    compute_trajectory(_staging_df(spark)).withColumn(
        "year", F.year("BaseDateTime")
    ).write.parquet(curated)

    from noaa_ais_glue_lakehouse_spark.pipelines.staging_to_curated import (
        run_voyage_summary_monthly,
    )

    out = run_voyage_summary_monthly(
        spark, curated, str(tmp_path / "partials"), str(tmp_path / "summary"),
        "2024-01",
    )
    rows = {(r["mmsi"], r["voyageid"]): r for r in out.collect()}
    assert len(rows) == 4  # 2 vessels × 2 voyages
    assert rows[(1, 0)]["pointcount"] == 3
    # rerun is idempotent (dynamic overwrite both layers)
    out2 = run_voyage_summary_monthly(
        spark, curated, str(tmp_path / "partials"), str(tmp_path / "summary"),
        "2024-01",
    )
    assert out2.count() == 4
    got = spark.read.parquet(str(tmp_path / "summary"))
    assert got.count() == 4


def test_list_partitions(spark):
    from noaa_ais_glue_lakehouse_spark.sources.writers import list_partitions

    df = spark.createDataFrame(
        [(1, 2024, 2), (2, 2024, 1), (3, 2024, 2)], ["v", "year", "day"]
    )
    assert list_partitions(df, ["year", "day"]) == [(2024, 1), (2024, 2)]


def test_daily_partials_and_monthly_rollup(spark):
    df = compute_trajectory(_staging_df(spark))
    partials = voyage_daily_partials(df)
    # voyage 0 of mmsi 1 spans two 'day' partials
    v0 = partials.filter((F.col("mmsi") == 1) & (F.col("voyageid") == 0))
    assert v0.count() == 2
    summary = monthly_voyage_summary(partials)
    row = summary.filter((F.col("mmsi") == 1) & (F.col("voyageid") == 0)).first()
    assert row["pointcount"] == 3
    assert row["voyagestart"] == dt.datetime(2024, 1, 1, 20)
    assert row["voyageend"] == dt.datetime(2024, 1, 2, 0, 30)
    assert abs(row["duration_hours"] - 4.5) < 1e-6
    # avg position = mean of the three points
    assert abs(row["avglat"] - (11.0 + 11.1 + 11.2) / 3) < 1e-4


def test_sampling_day_endpoints_are_per_calendar_day(spark, tmp_path):
    """Anchored pings on Jan 5 and Feb 5 are two days, not one
    day-of-month group: each day keeps its first and last ping."""
    times = [
        dt.datetime(2024, m, 5, h, minute)
        for m in (1, 2)
        for h, minute in ((8, 0), (8, 10), (8, 20), (8, 30))
    ]
    staging = str(tmp_path / "staging")
    spark.createDataFrame(
        [(7, t, 10.0, 20.0, 0.0) for t in times],
        ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"],
    ).write.parquet(staging)
    out = run_trajectory_window(
        spark, staging, str(tmp_path / "curated"), str(tmp_path / "state"),
        "2024-01-05", "2024-02-05", mode="full", sample=True,
    )
    kept = sorted(r["BaseDateTime"] for r in out.collect())
    assert kept == [times[0], times[3], times[4], times[7]]


def _staging_with_silent_entity(spark):
    """``_staging_df`` plus an entity seen only on day 1 and a densely
    pinging anchored entity that sampling thins on both days."""
    rows = [(3, dt.datetime(2024, 1, 1, 12), 40.0, 50.0, 8.0)]
    for day in (1, 2):
        rows += [
            (4, dt.datetime(2024, 1, day, 12) + dt.timedelta(minutes=5 * i), 30.0, 31.0, 0.0)
            for i in range(24)
        ]
    return _staging_df(spark).unionByName(
        spark.createDataFrame(rows, ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"])
    )


def test_state_snapshot_same_with_and_without_sampling(spark, tmp_path):
    """The snapshot comes from the committed (sampled) rows; sampling keeps
    every entity's last point of each day, so it equals the unsampled
    run's snapshot, silent entities included."""
    staging = str(tmp_path / "staging")
    _staging_with_silent_entity(spark).write.parquet(staging)
    snapshots = {}
    for sample in (True, False):
        curated, state = str(tmp_path / f"curated{sample}"), str(tmp_path / f"state{sample}")
        counts = []
        for d in ("2024-01-01", "2024-01-02"):
            out = run_trajectory_window(
                spark, staging, curated, state, d, d, mode="incremental", sample=sample
            )
            counts.append(out.count())
        snapshots[sample] = (
            sorted(tuple(r) for r in spark.read.parquet(f"{state}/by_date=2024-01-02").collect()),
            counts,
        )
    (sampled, sampled_counts), (full, full_counts) = snapshots[True], snapshots[False]
    assert sum(sampled_counts) < sum(full_counts)  # sampling did thin
    assert sampled == full
    assert {r[0] for r in full} == {1, 2, 3, 4}  # entity 3 carried over from day 1


def _sql_plans(spark, fn) -> list[str]:
    """Physical plan descriptions of the SQL executions ``fn`` runs."""
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        lst = store.executionsList()
        return [lst.apply(i) for i in range(lst.size())]

    seen = {e.executionId() for e in executions()}
    fn()
    return [e.physicalPlanDescription() for e in executions() if e.executionId() not in seen]


def _day_partitioned_staging(spark, path):
    df = _staging_df(spark)
    ts = F.col("BaseDateTime")
    df.withColumns(
        {"year": F.year(ts), "month": F.month(ts), "day": F.dayofmonth(ts)}
    ).write.partitionBy("year", "month", "day").parquet(path)


def test_window_scans_staging_once(spark, tmp_path):
    """One window evaluates its trajectory once: across all of the call's
    SQL executions, the staging table is scanned by a single FileScan
    (the state snapshot reads the committed rows instead)."""
    staging = str(tmp_path / "staging")
    _day_partitioned_staging(spark, staging)
    curated, state = str(tmp_path / "curated"), str(tmp_path / "state")
    run_trajectory_window(spark, staging, curated, state, "2024-01-01", "2024-01-01")
    plans = _sql_plans(
        spark,
        lambda: run_trajectory_window(spark, staging, curated, state, "2024-01-02", "2024-01-02"),
    )
    location = f"Location: InMemoryFileIndex [file:{staging}]"
    assert sum(p.count(location) for p in plans) == 1
    # the snapshot reads back only the partition this window published
    assert any(f"[file:{curated}/year=2024/month=1/day=2]" in p for p in plans)


def test_empty_window_publishes_and_reads_back_nothing(spark, tmp_path):
    """A window whose days hold no staging rows observes an empty set of
    published days: it replaces no curated partition, reads none back and
    leaves the state empty."""
    staging = str(tmp_path / "staging")
    _day_partitioned_staging(spark, staging)
    curated, state = tmp_path / "curated", str(tmp_path / "state")
    run_trajectory_window(spark, staging, str(curated), state, "2024-01-01", "2024-01-01")
    before = {p: p.stat().st_mtime_ns for p in curated.rglob("*.parquet")}
    out = run_trajectory_window(spark, staging, str(curated), state, "2024-01-05", "2024-01-05")
    assert out.count() == 0
    assert {p: p.stat().st_mtime_ns for p in curated.rglob("*.parquet")} == before
    snapshot = read_state_snapshot_by_date(spark, state, "2024-01-05", STATE_SNAPSHOT_SCHEMA)
    assert snapshot.count() == 0


def test_window_and_summary_reads_prune_partitions(spark, tmp_path):
    """The staging read of a window and the curated read of the monthly
    summary carry a year/month/day partition predicate at the scan."""
    import re

    staging = str(tmp_path / "staging")
    _day_partitioned_staging(spark, staging)
    curated = str(tmp_path / "curated")
    window_plans = _sql_plans(
        spark,
        lambda: run_trajectory_window(
            spark, staging, curated, str(tmp_path / "state"), "2024-01-02", "2024-01-02"
        ),
    )
    summary_plans = _sql_plans(
        spark,
        lambda: run_voyage_summary_monthly(
            spark, curated, str(tmp_path / "partials"), str(tmp_path / "summary"), "2024-01"
        ),
    )

    def partition_filters(plans, path):
        scan = re.compile(
            re.escape(f"Location: InMemoryFileIndex [file:{path}]") + r"\nPartitionFilters: \[(.*)\]"
        )
        return [m.group(1) for p in plans for m in scan.finditer(p)]

    for filters in (partition_filters(window_plans, staging), partition_filters(summary_plans, curated)):
        assert filters and all("make_date(year" in f for f in filters), filters


def _semi_join_summary(all_partials, month):
    """The summary's former key selection: this month's voyage keys,
    widened by semi-joins to every voyage sharing a start date."""
    month_keys = (
        all_partials.filter(F.substring("day", 1, 7) == month)
        .select("mmsi", "voyageid")
        .distinct()
    )
    first_days = all_partials.groupBy("mmsi", "voyageid").agg(F.min("day").alias("_first_day"))
    affected_dates = (
        first_days.join(month_keys, ["mmsi", "voyageid"], "left_semi")
        .select("_first_day")
        .distinct()
    )
    keys = first_days.join(affected_dates, "_first_day", "left_semi").select("mmsi", "voyageid")
    return monthly_voyage_summary(all_partials.join(keys, ["mmsi", "voyageid"], "left_semi"))


def test_one_pass_summary_matches_semi_join_selection(spark, tmp_path):
    """Over three months whose voyages share start dates across month
    boundaries, every monthly run rewrites exactly the voyages the
    semi-join formulation selected, with the same rollups."""
    rows = []
    for mmsi, start, hours in (
        (1, dt.datetime(2024, 1, 31, 8), (0, 1)),       # Jan 31 only
        (2, dt.datetime(2024, 1, 31, 22), (0, 2, 4)),   # Jan 31 -> Feb 1
        (3, dt.datetime(2024, 2, 10, 6), (0, 2)),       # Feb 10 only
        (4, dt.datetime(2024, 2, 10, 23), (0, 2, 4)),   # Feb 10 -> Feb 11
        (5, dt.datetime(2024, 2, 29, 21), (0, 2, 4)),   # Feb 29 -> Mar 1
        (6, dt.datetime(2024, 2, 29, 5), (0, 1)),       # Feb 29 only
        (7, dt.datetime(2024, 3, 15, 5), (0, 1)),       # Mar 15 only
    ):
        rows += [(mmsi, start + dt.timedelta(hours=h), 10.0 + h, 20.0, 5.0) for h in hours]
    curated = str(tmp_path / "curated")
    compute_trajectory(
        spark.createDataFrame(rows, ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"])
    ).write.parquet(curated)
    partials, summary = str(tmp_path / "partials"), str(tmp_path / "summary")
    for month in ("2024-01", "2024-02", "2024-03"):
        got = run_voyage_summary_monthly(spark, curated, partials, summary, month)
        want = _semi_join_summary(spark.read.parquet(partials), month)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())), month
    # voyage 1 (Jan 31 only) survived the Feb run's rewrite of its start date
    assert spark.read.parquet(summary).count() == 7


def test_unknown_window_mode_raises(spark, tmp_path):
    """A mode outside incremental / recompute / full is an error, not an
    incremental run that silently seeds from state."""
    with pytest.raises(ValueError, match="unknown window mode 'ful'"):
        run_trajectory_window(
            spark, str(tmp_path / "staging"), str(tmp_path / "curated"),
            str(tmp_path / "state"), "2024-01-01", "2024-01-01", mode="ful",
        )
