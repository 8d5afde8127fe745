"""Sink round-trips: partitioned dynamic overwrite, quarantine, dated
state snapshots."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.schemas import STATE_SNAPSHOT_SCHEMA
from noaa_ais_glue_lakehouse_spark.sources.writers import (
    bounded_count,
    read_state_snapshot_by_date,
    write_partitioned_parquet,
    write_quarantine,
    write_state_snapshot,
)


def test_partitioned_write_roundtrip(spark, tmp_path):
    out = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 2024, 1, 1), (2, 2024, 1, 2)], ["v", "year", "month", "day"]
    )
    write_partitioned_parquet(df, out, ["year", "month", "day"])
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert os.path.isdir(out + "/year=2024/month=1/day=1")


def test_dynamic_overwrite_replaces_only_written_partitions(spark, tmp_path):
    out = str(tmp_path / "t")
    d1 = spark.createDataFrame([(1, 1), (2, 2)], ["v", "day"])
    write_partitioned_parquet(d1, out, ["day"])
    # overwrite day=2 only; day=1 must survive
    d2 = spark.createDataFrame([(99, 2)], ["v", "day"])
    write_partitioned_parquet(d2, out, ["day"])
    got = {(r["day"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 1), (2, 99)}


def test_quarantine_partition_aware(spark, tmp_path):
    out = str(tmp_path / "q")
    df = spark.createDataFrame(
        [(1, 2024, 1, 1), (2, 2024, 1, 2)], ["v", "year", "month", "day"]
    )
    n = write_quarantine(df, out)
    assert n == 2
    assert os.path.isdir(out + "/year=2024/month=1/day=1")
    assert os.path.isdir(out + "/year=2024/month=1/day=2")


def test_quarantine_write_leaves_session_conf_unchanged(spark, tmp_path):
    """Dynamic overwrite is a per-write option: a second day keeps the
    first under a STATIC session, and the session conf is not touched."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        out = str(tmp_path / "q")
        for day in (1, 2):
            df = spark.createDataFrame([(day, 2024, 1, day)], ["v", "year", "month", "day"])
            assert write_quarantine(df, out) == 1
        assert spark.conf.get(key) == "static"
        assert os.path.isdir(out + "/year=2024/month=1/day=1")
        assert os.path.isdir(out + "/year=2024/month=1/day=2")
    finally:
        spark.conf.set(key, prior)


def test_quarantine_empty_writes_nothing(spark, tmp_path):
    out = str(tmp_path / "q")
    df = spark.createDataFrame([], "v int, year int, month int, day int")
    assert write_quarantine(df, out) == 0
    assert not os.path.exists(out)


def test_state_snapshot_roundtrip_and_fallback(spark, tmp_path):
    prefix = str(tmp_path / "state")
    df = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1, 23), 1.0, 2.0, 3)], STATE_SNAPSHOT_SCHEMA
    )
    write_state_snapshot(df, prefix, "2024-01-01")
    got = read_state_snapshot_by_date(spark, prefix, "2024-01-01", STATE_SNAPSHOT_SCHEMA)
    assert got.count() == 1 and got.first()["VoyageID"] == 3
    # missing date → empty with schema
    empty = read_state_snapshot_by_date(spark, prefix, "1999-01-01", STATE_SNAPSHOT_SCHEMA)
    assert empty.count() == 0
    assert empty.schema == STATE_SNAPSHOT_SCHEMA


def test_bounded_count(spark):
    df = spark.range(1000)
    assert bounded_count(df, 10) == 11
    assert bounded_count(df.limit(5), 10) == 5


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A day-partitioned table read with a day predicate must prune at the
    FILE level (PartitionFilters in the scan, only matching partition
    dirs listed) — the property that turns a 100 TB table scan into a
    one-day scan."""
    import re

    df = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 5:02d}") for i in range(100)], "id long, day string"
    )
    path = str(tmp_path / "t")
    df.write.partitionBy("day").parquet(path)

    read = spark.read.parquet(path).filter(F.col("day") == "2024-01-03")
    plan = read._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "2024-01-03" in m.group(1), plan[:500]
    # correctness of the pruned read (inputFiles() reflects the relation
    # pre-pruning, so the plan's PartitionFilters is the pruning evidence)
    assert read.count() == 20


def test_delete_keys_rewrites_only_affected_partitions(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        delete_keys_partition_scoped,
    )

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(uid, day, uid * 100 + day) for uid in range(6) for day in (1, 2, 3)],
        ["user_id", "day", "v"],
    )
    df.write.partitionBy("day").parquet(path)
    # user 1 exists in all 3 day-partitions; capture day=2's files BEFORE
    before = {
        f: os.path.getmtime(f"{path}/day=2/{f}")
        for f in os.listdir(f"{path}/day=2")
        if f.endswith(".parquet")
    }
    n = delete_keys_partition_scoped(
        spark, path, "user_id", [1], ["day"]
    )
    assert n == 3
    out = spark.read.parquet(path)
    assert out.filter(F.col("user_id") == 1).count() == 0
    assert out.count() == 15  # 18 - 3 deleted rows
    # remaining users untouched
    assert out.filter(F.col("user_id") == 2).count() == 3


def test_delete_keys_untouched_partitions_not_rewritten(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        delete_keys_partition_scoped,
    )

    path = str(tmp_path / "tbl2")
    rows = [(1, 1, 10), (2, 1, 20), (3, 2, 30), (4, 2, 40)]
    spark.createDataFrame(rows, ["user_id", "day", "v"]).write.partitionBy(
        "day"
    ).parquet(path)
    files_before = sorted(os.listdir(f"{path}/day=2"))
    n = delete_keys_partition_scoped(spark, path, "user_id", [1], ["day"])
    assert n == 1
    # partition day=2 holds no deleted keys: its files are byte-identical
    assert sorted(os.listdir(f"{path}/day=2")) == files_before
    out = spark.read.parquet(path)
    assert {
        (r["user_id"], r["day"]) for r in out.collect()
    } == {(2, 1), (3, 2), (4, 2)}


def test_delete_keys_empty_key_list_is_noop(spark, tmp_path):
    import os

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        delete_keys_partition_scoped,
    )

    path = str(tmp_path / "tbl0")
    spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20)], ["user_id", "day", "v"]
    ).write.partitionBy("day").parquet(path)
    files_before = sorted(os.listdir(f"{path}/day=1"))
    assert delete_keys_partition_scoped(spark, path, "user_id", [], ["day"]) == 0
    assert sorted(os.listdir(f"{path}/day=1")) == files_before
    assert spark.read.parquet(path).count() == 2


def test_delete_keys_fully_emptied_partition(spark, tmp_path):
    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        delete_keys_partition_scoped,
    )

    path = str(tmp_path / "tbl3")
    rows = [(1, 1, 10), (1, 2, 11), (2, 2, 20)]
    spark.createDataFrame(rows, ["user_id", "day", "v"]).write.partitionBy(
        "day"
    ).parquet(path)
    n = delete_keys_partition_scoped(spark, path, "user_id", [1], ["day"])
    assert n == 2
    out = spark.read.parquet(path)
    # day=1 is fully emptied; day=2 keeps user 2
    assert {(r["user_id"], r["day"]) for r in out.collect()} == {(2, 2)}


def test_delete_keys_escaped_and_null_partition_values(spark, tmp_path):
    """Hive-escaped partition values (':' -> %3A) and NULL partitions
    must still be purgeable — the code-review repro for the raw
    f-string partition-path bug."""
    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        delete_keys_partition_scoped,
    )

    path = str(tmp_path / "tbl4")
    rows = [(1, "a:1", 10), (2, "b", 20), (3, None, 30), (4, None, 40)]
    spark.createDataFrame(
        rows, "user_id long, day string, v long"
    ).write.partitionBy("day").parquet(path)
    n = delete_keys_partition_scoped(spark, path, "user_id", [1, 3], ["day"])
    assert n == 2
    out = spark.read.parquet(path)
    got = {(r["user_id"], r["day"]) for r in out.collect()}
    # user 1 ('a:1' partition, fully emptied) and user 3 (NULL partition,
    # partially emptied) are gone; 2 and 4 survive
    assert got == {(2, "b"), (4, None)}
    import os

    # the escaped dir was genuinely removed, not shadowed by a bogus twin
    assert "day=a%3A1" not in os.listdir(path)
    assert "day=a:1" not in os.listdir(path)


def test_zordered_write_tightens_zone_maps(spark, tmp_path):
    """write_zordered vs an arrival-order write of the same rows: read
    the REAL parquet footer column statistics per file and compare the
    average (x-span * y-span) zone-map area. The z-ordered layout must
    bound both dimensions (strictly smaller area), which is exactly what
    lets a 2-D predicate prune files."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.sources.writers import write_zordered

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    lat = (F.col("event_id") % 1800).cast("double") / 10.0 - 90.0
    lon = ((F.col("event_id") * 7) % 3600).cast("double") / 10.0 - 180.0
    q = ev.select(
        F.least(F.floor((lon + 180.0) / 360.0 * 256).cast("long"), F.lit(255)
                ).alias("xq"),
        F.least(F.floor((lat + 90.0) / 180.0 * 256).cast("long"), F.lit(255)
                ).alias("yq"),
    )

    def avg_area(path: str) -> float:
        areas = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            xs, ys = [], []
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                cols = {row.column(c).path_in_schema: row.column(c).statistics
                        for c in range(row.num_columns)}
                xs += [cols["xq"].min, cols["xq"].max]
                ys += [cols["yq"].min, cols["yq"].max]
            if xs:
                areas.append(
                    (max(xs) - min(xs) + 1) * (max(ys) - min(ys) + 1)
                )
        assert areas
        return sum(areas) / len(areas)

    plain = str(tmp_path / "plain")
    q.repartition(8).write.mode("overwrite").parquet(plain)
    zord = str(tmp_path / "zord")
    write_zordered(q, zord, "xq", "yq", bits=8, num_files=8)

    a_plain, a_z = avg_area(plain), avg_area(zord)
    # arrival order covers ~the whole 256x256 grid per file; z-order
    # files must be dramatically tighter
    assert a_z < a_plain / 4, (a_plain, a_z)


def test_partitioned_sink_crash_mid_write_leaves_table_intact(spark, tmp_path):
    """S4's commit contract, the window write's sink too: a write job
    that dies mid-flight — after tasks may already have produced files —
    leaves every published partition byte-identical, including the
    partitions the failed write was going to replace, and nothing at the
    table root. Spark's dynamic overwrite stages the job's files under
    ``.spark-staging-<job>`` and touches published partitions only after
    every task has committed, so a failed job loses no partition."""
    import os

    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        write_partitioned_parquet,
    )

    out = str(tmp_path / "t")
    write_partitioned_parquet(
        spark.createDataFrame([(1, 1), (2, 2)], ["v", "day"]), out, ["day"]
    )
    before = {}
    for root, _dirs, files in os.walk(out):
        for f in files:
            p = os.path.join(root, f)
            before[p] = (os.path.getsize(p), os.path.getmtime(p))

    doomed = spark.createDataFrame(
        [(60, 1), (61, 2)], ["v", "day"]
    ).withColumn(
        "v",
        F.when(F.col("v") < 61, F.col("v")).otherwise(
            F.assert_true(F.lit(False)).cast("int")
        ),
    )
    try:
        write_partitioned_parquet(doomed, out, ["day"])
        raise AssertionError("write was expected to fail")
    except AssertionError:
        raise
    except Exception:
        pass
    assert not [d for d in os.listdir(out) if d.startswith(".")]
    after = {}
    for root, _dirs, files in os.walk(out):
        for f in files:
            p = os.path.join(root, f)
            after[p] = (os.path.getsize(p), os.path.getmtime(p))
    assert after == before
    got = {(r["day"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 1), (2, 2)}


def test_partitioned_sink_swap_replaces_only_present_partitions(spark, tmp_path):
    """Dynamic-overwrite semantics: overwriting with a frame containing
    only day=2 must replace day=2, keep day=1 untouched, and leave no
    staging residue (``.spark-staging-*`` or any other dot entry) at the
    table root."""
    import os

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        write_partitioned_parquet,
    )

    out = str(tmp_path / "t")
    write_partitioned_parquet(
        spark.createDataFrame([(1, 1), (2, 2)], ["v", "day"]), out, ["day"]
    )
    write_partitioned_parquet(
        spark.createDataFrame([(99, 2)], ["v", "day"]), out, ["day"]
    )
    got = {(r["day"], r["v"]) for r in spark.read.parquet(out).collect()}
    assert got == {(1, 1), (2, 99)}
    assert not [d for d in os.listdir(out) if d.startswith(".")]


def test_versioned_write_time_travel(spark, tmp_path):
    """write_versioned/read_version: v1 stays readable (immutable) after
    v2 lands; default read is latest; uncommitted versions raise."""
    import pytest

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    v1 = write_versioned(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "x"]), path
    )
    v2 = write_versioned(
        spark.createDataFrame([(3, "c")], ["id", "x"]), path
    )
    assert (v1, v2) == (1, 2)
    assert {r["id"] for r in read_version(spark, path).collect()} == {3}
    assert {r["id"] for r in read_version(spark, path, 1).collect()} == {1, 2}
    with pytest.raises(ValueError):
        read_version(spark, path, 9)


def test_versioned_orphan_data_invisible(spark, tmp_path):
    """A crash AFTER the data rename but BEFORE the manifest write must
    leave the orphan version invisible to readers, and the next writer
    must reclaim its number safely."""
    import os

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(spark.createDataFrame([(1,)], ["id"]), path)
    # simulate the crash: hand-create v2 data with NO manifest
    spark.createDataFrame([(99,)], ["id"]).write.parquet(f"{path}/v2")
    assert {r["id"] for r in read_version(spark, path).collect()} == {1}
    # next committed write reclaims version 2 and replaces the orphan
    v = write_versioned(spark.createDataFrame([(2,)], ["id"]), path)
    assert v == 2
    assert {r["id"] for r in read_version(spark, path).collect()} == {2}
    assert os.path.exists(f"{path}/_manifests/2.json")


def test_versioned_concurrent_writers_both_commit(spark, tmp_path):
    """Two writers racing on the same table must BOTH land, as distinct
    versions, with neither clobbering the other's data (manifest create
    is the commit CAS; data dirs are writer-unique)."""
    from concurrent.futures import ThreadPoolExecutor

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    dfs = {
        "a": spark.createDataFrame([(1,), (2,)], ["id"]),
        "b": spark.createDataFrame([(10,), (20,), (30,)], ["id"]),
    }
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = {k: pool.submit(write_versioned, df, path) for k, df in dfs.items()}
        got = {k: f.result(timeout=120) for k, f in futs.items()}
    assert sorted(got.values()) == [1, 2], got
    by_version = {
        got["a"]: {1, 2},
        got["b"]: {10, 20, 30},
    }
    for v, expect in by_version.items():
        assert {r["id"] for r in read_version(spark, path, v).collect()} == expect
    latest = {r["id"] for r in read_version(spark, path).collect()}
    assert latest == by_version[max(got.values())]


def test_vacuum_versions_keeps_latest_sweeps_orphans(spark, tmp_path):
    """vacuum_versions(keep_last=2): older versions physically gone and
    unreadable, kept versions time-travelable, orphan data dirs swept,
    latest untouched."""
    import os

    import pytest

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    for i in range(1, 5):
        write_versioned(spark.createDataFrame([(i,)], ["id"]), path)
    # orphan from a "crashed" writer: data dir with no manifest, aged
    # past the grace window (a fresh one is skipped — see the race test)
    spark.createDataFrame([(99,)], ["id"]).write.parquet(f"{path}/d-deadbeef")
    import time

    old = time.time() - 3600
    os.utime(f"{path}/d-deadbeef", (old, old))
    report = vacuum_versions(spark, path, keep_last=2)
    assert report["removed_versions"] == [1, 2]
    assert report["kept_versions"] == [3, 4]
    assert "d-deadbeef" in report["swept_orphans"]
    assert {r["id"] for r in read_version(spark, path).collect()} == {4}
    assert {r["id"] for r in read_version(spark, path, 3).collect()} == {3}
    for old in (1, 2):
        with pytest.raises(ValueError):
            read_version(spark, path, old)
    # only kept data dirs + _manifests remain on disk
    remaining = sorted(os.listdir(path))
    assert "_manifests" in remaining and len([d for d in remaining if d != "_manifests"]) == 2
    # keep_last clamps to >=1: latest always survives
    report2 = vacuum_versions(spark, path, keep_last=0)
    assert report2["kept_versions"] == [4]
    assert {r["id"] for r in read_version(spark, path).collect()} == {4}


def test_vacuum_during_write_race_preserves_inflight_commit(spark, tmp_path):
    """A vacuum racing an in-flight writer (data renamed, manifest not
    yet created) must NOT sweep the writer's data: the age gate skips
    young unreferenced dirs, so the writer's subsequent manifest CAS
    lands on intact data. orphan_grace_ms=0 restores the eager sweep."""
    import json
    import os

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(spark.createDataFrame([(1,)], ["id"]), path)
    # freeze the writer mid-protocol: data dir published, no manifest yet
    spark.createDataFrame([(7,), (8,)], ["id"]).write.parquet(
        f"{path}/d-inflight0001"
    )
    report = vacuum_versions(spark, path, keep_last=1)
    assert "d-inflight0001" in report["skipped_young_orphans"]
    assert report["swept_orphans"] == []
    assert os.path.isdir(f"{path}/d-inflight0001")
    # the writer resumes: manifest CAS commits version 2 on intact data
    with open(f"{path}/_manifests/2.json", "w") as f:
        json.dump({"version": 2, "data_dir": "d-inflight0001", "n_rows": 2}, f)
    assert {r["id"] for r in read_version(spark, path, 2).collect()} == {7, 8}
    # eager mode (grace 0) is still available for quiesced maintenance
    spark.createDataFrame([(99,)], ["id"]).write.parquet(f"{path}/d-crashed")
    report2 = vacuum_versions(spark, path, keep_last=2, orphan_grace_ms=0)
    assert "d-crashed" in report2["swept_orphans"]
    assert not os.path.exists(f"{path}/d-crashed")
    assert {r["id"] for r in read_version(spark, path, 2).collect()} == {7, 8}


def test_wap_publishes_only_clean_batches(spark, tmp_path):
    """write_versioned_wap: a failing audit must leave NO readable
    version (manifest never created, staged dir orphaned for vacuum);
    a passing audit commits the normal CAS version."""
    import os

    import pytest

    from noaa_ais_glue_lakehouse_spark.operators.expectations import (
        in_range,
        not_null,
    )
    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        vacuum_versions,
        write_versioned_wap,
    )

    path = str(tmp_path / "vt")
    rules = [not_null("v"), in_range("v", 0, 100)]
    good = spark.createDataFrame([(1,), (50,)], ["v"])
    assert write_versioned_wap(good, path, rules) == 1
    assert {r["v"] for r in read_version(spark, path).collect()} == {1, 50}
    bad = spark.createDataFrame([(7,), (999,)], ["v"])
    with pytest.raises(ValueError, match="WAP audit failed"):
        write_versioned_wap(bad, path, rules)
    # still exactly one readable version; bad bytes unreachable
    assert {r["v"] for r in read_version(spark, path).collect()} == {1, 50}
    manifests = [
        f for f in os.listdir(f"{path}/_manifests") if f.endswith(".json")
    ]
    assert manifests == ["1.json"]
    # the orphaned staged dir is vacuum's job (age-gated)
    rep = vacuum_versions(spark, path, keep_last=1, orphan_grace_ms=0)
    assert len(rep["swept_orphans"]) == 1
    assert write_versioned_wap(good, path, rules) == 2


def test_vacuum_skips_slow_writer_past_grace_via_heartbeat(spark, tmp_path):
    """A writer whose write/audit outlasts the grace window must STILL
    survive a concurrent vacuum: its .inflight-{token} liveness marker
    keeps beating, and the sweep honors a fresh marker even when the
    staging/data dir's own mtime has aged past the grace window."""
    import os
    import time

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        read_version,
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(spark.createDataFrame([(1,)], ["id"]), path)

    vacuumed = {}

    def _slow_audit(staged):
        # simulate a multi-minute audit: age the staging dir PAST the
        # grace window, then run a concurrent vacuum while "auditing"
        token = [
            d for d in os.listdir(path) if d.startswith(".staging-")
        ][0][len(".staging-"):]
        old = time.time() - 3600
        os.utime(f"{path}/.staging-{token}", (old, old))
        vacuumed["report"] = vacuum_versions(
            spark, path, keep_last=1, orphan_grace_ms=2_000
        )
        vacuumed["token"] = token

    v = write_versioned(
        spark.createDataFrame([(7,), (8,)], ["id"]),
        path,
        audit=_slow_audit,
        heartbeat_ms=50,
    )
    # the concurrent vacuum saw the aged dir but skipped it (live marker)
    rep = vacuumed["report"]
    assert f".staging-{vacuumed['token']}" in rep["skipped_young_orphans"]
    assert rep["swept_orphans"] == []
    # the slow writer's commit landed on intact data
    assert {r["id"] for r in read_version(spark, path, v).collect()} == {7, 8}
    # marker cleaned up after the publish
    assert not [
        f
        for f in os.listdir(f"{path}/_manifests")
        if f.startswith(".inflight-")
    ]


def test_vacuum_sweeps_crashed_writer_marker_and_orphan(spark, tmp_path):
    """A crashed writer's marker stops beating: once BOTH the marker and
    the orphan dir age past the grace window, the sweep collects both."""
    import json
    import os
    import time

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(spark.createDataFrame([(1,)], ["id"]), path)
    # fabricate a crashed writer: orphan data dir + stale marker
    spark.createDataFrame([(9,)], ["id"]).write.parquet(f"{path}/d-dead01")
    with open(f"{path}/_manifests/.inflight-dead01", "w"):
        pass
    old = time.time() - 3600
    os.utime(f"{path}/d-dead01", (old, old))
    os.utime(f"{path}/_manifests/.inflight-dead01", (old, old))
    rep = vacuum_versions(spark, path, keep_last=1, orphan_grace_ms=2_000)
    assert "d-dead01" in rep["swept_orphans"]
    assert not os.path.exists(f"{path}/d-dead01")
    assert not os.path.exists(f"{path}/_manifests/.inflight-dead01")


def test_heartbeat_survives_transient_touch_failures(spark, tmp_path):
    """Round-10 ADVICE (medium): a transient FS error in the heartbeat
    (S3 throttle, HDFS failover) must NOT kill the beat thread — it
    keeps looping and the marker stays live, so a long writer remains
    guarded against a concurrent vacuum after a single blip."""
    import time

    from noaa_ais_glue_lakehouse_spark.sources import writers as W

    path = str(tmp_path / "vt")
    calls = {"n": 0}
    real_touch = W._touch

    def flaky_touch(fs, hpath, payload=b""):
        calls["n"] += 1
        # calls 2-4 are the first beats after the initial marker create:
        # fail them all to simulate a multi-beat FS outage
        if 2 <= calls["n"] <= 4:
            raise IOError("simulated transient FS failure")
        real_touch(fs, hpath, payload)

    observed = {}

    def _audit(staged):
        # by now several beats (incl. the 3 failed ones) have elapsed;
        # the thread must still be alive and re-touching the marker
        time.sleep(0.5)
        markers = [
            f
            for f in os.listdir(f"{path}/_manifests")
            if f.startswith(".inflight-")
        ]
        observed["markers"] = markers
        observed["calls_during_audit"] = calls["n"]
        time.sleep(0.3)

    W._touch = flaky_touch
    try:
        v = W.write_versioned(
            spark.createDataFrame([(7,)], ["id"]),
            path,
            audit=_audit,
            heartbeat_ms=50,
        )
    finally:
        W._touch = real_touch
    assert v == 1
    assert observed["markers"], "marker vanished after a transient failure"
    # the thread kept beating THROUGH the failures, not just before them
    assert calls["n"] > observed["calls_during_audit"] >= 5


def test_vacuum_grace_coupled_to_writer_heartbeat(spark, tmp_path):
    """Round-10 ADVICE (low): vacuum judges marker staleness against
    max(orphan_grace_ms, 2*heartbeat_ms) read from the marker's own
    content — a live slow-beat writer (heartbeat >= vacuum grace) can
    never have its marker aged out between touches."""
    import json
    import time

    from noaa_ais_glue_lakehouse_spark.sources.writers import (
        vacuum_versions,
        write_versioned,
    )

    path = str(tmp_path / "vt")
    write_versioned(spark.createDataFrame([(1,)], ["id"]), path)
    # fabricate a LIVE writer mid-write whose beat interval (10 min)
    # exceeds the vacuum grace (2 s): marker last touched 30 s ago —
    # stale by grace alone, young by 2*heartbeat
    spark.createDataFrame([(7,)], ["id"]).write.parquet(f"{path}/d-slow01")
    with open(f"{path}/_manifests/.inflight-slow01", "w") as f:
        json.dump({"heartbeat_ms": 600_000}, f)
    old = time.time() - 30
    os.utime(f"{path}/d-slow01", (old, old))
    os.utime(f"{path}/_manifests/.inflight-slow01", (old, old))
    rep = vacuum_versions(spark, path, keep_last=1, orphan_grace_ms=2_000)
    assert "d-slow01" in rep["skipped_young_orphans"]
    assert os.path.isdir(f"{path}/d-slow01")
    assert os.path.exists(f"{path}/_manifests/.inflight-slow01")
    # ...but a marker older than 2*heartbeat with a dead beat IS swept
    ancient = time.time() - 3600
    os.utime(f"{path}/d-slow01", (ancient, ancient))
    os.utime(f"{path}/_manifests/.inflight-slow01", (ancient, ancient))
    rep2 = vacuum_versions(spark, path, keep_last=1, orphan_grace_ms=2_000)
    assert "d-slow01" in rep2["swept_orphans"]
    assert not os.path.exists(f"{path}/_manifests/.inflight-slow01")


def test_write_versioned_rejects_nonpositive_heartbeat(spark, tmp_path):
    import pytest

    from noaa_ais_glue_lakehouse_spark.sources.writers import write_versioned

    with pytest.raises(ValueError, match="heartbeat_ms"):
        write_versioned(
            spark.createDataFrame([(1,)], ["id"]),
            str(tmp_path / "vt"),
            heartbeat_ms=0,
        )


def test_state_snapshot_missing_or_empty_dir_is_empty(spark, tmp_path):
    """No existence probe is needed: a missing snapshot directory and one
    holding only a _SUCCESS marker both fall back to the empty typed
    frame."""
    prefix = tmp_path / "state"
    (prefix / "by_date=2024-01-02").mkdir(parents=True)
    (prefix / "by_date=2024-01-02" / "_SUCCESS").write_text("")
    for date in ("2024-01-01", "2024-01-02"):
        got = read_state_snapshot_by_date(spark, str(prefix), date, STATE_SNAPSHOT_SCHEMA)
        assert got.schema == STATE_SNAPSHOT_SCHEMA
        assert got.count() == 0


def test_failed_state_snapshot_write_keeps_prior_snapshot(spark, tmp_path):
    """The snapshot goes through the partitioned sink's commit: a write
    that fails mid-job leaves the prior snapshot of that date readable,
    rather than an emptied directory that reads as "no state" and
    restarts every entity's voyage ids at 0."""
    import pytest

    prefix = str(tmp_path / "state")
    df = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1, 23), 1.0, 2.0, 3)], STATE_SNAPSHOT_SCHEMA
    )
    write_state_snapshot(df, prefix, "2024-01-01")
    doomed = df.withColumn(
        "VoyageID",
        F.when(F.col("MMSI") < 0, F.col("VoyageID")).otherwise(
            F.assert_true(F.lit(False)).cast("long")
        ),
    )
    with pytest.raises(Exception):
        write_state_snapshot(doomed, prefix, "2024-01-01")
    got = read_state_snapshot_by_date(spark, prefix, "2024-01-01", STATE_SNAPSHOT_SCHEMA)
    assert [tuple(r) for r in got.collect()] == [(7, dt.datetime(2024, 1, 1, 23), 1.0, 2.0, 3)]
    # the snapshot layout is unchanged: one date directory, the declared columns
    assert os.listdir(prefix) == ["by_date=2024-01-01"]
    assert spark.read.parquet(f"{prefix}/by_date=2024-01-01").columns == STATE_SNAPSHOT_SCHEMA.names


def test_corrupt_state_snapshot_raises(spark, tmp_path):
    """Only a missing or data-less snapshot directory means "no state";
    a snapshot whose data file is corrupt raises instead of reading as
    0 rows."""
    import pytest

    prefix = tmp_path / "state"
    df = spark.createDataFrame(
        [(7, dt.datetime(2024, 1, 1, 23), 1.0, 2.0, 3)], STATE_SNAPSHOT_SCHEMA
    )
    write_state_snapshot(df, str(prefix), "2024-01-01")
    day = prefix / "by_date=2024-01-01"
    for f in day.iterdir():
        if f.name.startswith("part-"):
            f.write_bytes(b"not parquet" * 8)
        elif f.name.endswith(".crc"):
            f.unlink()  # an object store keeps no checksum sidecar
    with pytest.raises(Exception, match="FILE_FOOTER|not a Parquet file"):
        read_state_snapshot_by_date(spark, str(prefix), "2024-01-01", STATE_SNAPSHOT_SCHEMA).count()
