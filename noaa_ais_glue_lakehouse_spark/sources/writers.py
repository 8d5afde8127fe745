"""Sinks (SURVEY §2.1 S4-S7, §2.6 O3).

All writers are plain functions over (DataFrame, path); none of them
hold state. Scale stance:

- Partition layout is the contract: partitioned parquet + dynamic
  partition overwrite means a rerun replaces exactly the partitions it
  produced and never truncates the table (the reference's safety net,
  ``pipelines/raw_to_staging.py:23,172-178``). Every partitioned parquet
  overwrite (staging, curated, partials, summary, state snapshot, the
  key-delete rewrite) is ``write_partitioned_parquet``, one Spark commit.
- Window-scoped overwrite (S5) implements the *semantics* the reference
  intended with its Delta-only ``replaceWhere`` option that the plain
  parquet writer silently ignored (``fact_voyage_trajectory.py:342-356``,
  SURVEY §7.4.2) without a sink of its own: ``run_trajectory_window``
  filters its input to the window's ``BaseDateTime`` range, so the
  partitioned sink below can only ever replace the window's partitions.
  Spark stages the job's files under ``.spark-staging-<job>`` and touches
  published partitions only after every task has committed, so a failed
  window write leaves the table as it was. On a Delta-enabled cluster,
  the same write is ``.format("delta").option("replaceWhere", predicate)``.
- Quarantine is partition-aware per row (fixes SURVEY §7.4.5, where the
  reference stamped the whole quarantine write with ``df.first()``'s
  year/month/day — correct only because its job loops one day at a time).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from noaa_ais_glue_lakehouse_spark.sources.readers import (
    cast_to_schema,
    read_parquet_table,
)


def bounded_count(df: DataFrame, threshold: int) -> int:
    """O3 — 'are there more than N rows?' without a full count.

    ``limit(n+1).count()`` stops scanning once n+1 rows are found
    (reference: ``utils/common_functions_raw.py:74-75``). Returns the
    bounded count — a return of ``threshold + 1`` means "more than".
    """
    return df.limit(threshold + 1).count()


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """S4 — the one partitioned-parquet overwrite: only the partitions
    present in ``df`` are replaced (dynamic partition overwrite, passed
    per write, so the session's ``partitionOverwriteMode`` never matters).

    Reference: ``pipelines/raw_to_staging.py:172-178`` +
    ``partitionOverwriteMode=dynamic`` at ``:23``. Spark's commit is the
    crash safety: the job's files land under ``path/.spark-staging-<job>``
    and a partition directory is replaced (delete, then rename the staged
    one in) only after every task has committed. A job that fails leaves
    every published partition as it was and nothing at the table root
    (pinned by a kill-mid-write test).
    """
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        *partition_cols
    ).parquet(path)


def write_quarantine(
    df: DataFrame,
    path: str,
    partition_cols: list[str] | None = None,
    small_threshold: int = 100_000,
) -> int:
    """S6 — quarantine sink for rejected rows; returns rows written.

    Partitioned by the row's own year/month/day (when present) rather
    than a single first()-derived path. Small spills are coalesced to one
    file to avoid small-file litter (reference ``coalesce(1)`` rule,
    ``utils/common_functions_raw.py:73-94``); large spills keep their
    parallelism. CSV with header, matching the reference's format.
    """
    from pyspark.sql import Observation

    parts = [c for c in (partition_cols or ["year", "month", "day"]) if c in df.columns]
    n = bounded_count(df, small_threshold)
    if n == 0:
        return 0
    out = df.coalesce(1) if n <= small_threshold else df
    # exact row count rides the write job via observe() (the bounded count
    # above only decides the coalesce and may stop at threshold+1)
    obs = Observation("quarantine")
    out = out.observe(obs, F.count(F.lit(1)).alias("n_rows"))
    # dynamic overwrite here too — without it, a vanilla session's first
    # quarantine write would truncate ALL prior days' quarantined rows
    writer = (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("header", True)
    )
    if parts:
        writer = writer.partitionBy(*parts)
    writer.csv(path)
    return obs.get["n_rows"]


def write_state_snapshot(df: DataFrame, prefix: str, date_str: str) -> None:
    """S7 — dated per-entity state snapshot (1 row per entity).

    The one-value ``by_date`` partition of the table at ``prefix``,
    written through ``write_partitioned_parquet``: the layout
    ``{prefix}/by_date={date_str}/`` mirrors ``utils/state_io.py:36-45``,
    and a write that fails leaves the prior snapshot of that date
    readable. As with every dynamic overwrite, an empty ``df`` replaces
    nothing: a prior snapshot of that date stays, as the curated days of
    a window that produced no rows do. ``coalesce(1)`` because the
    snapshot is per-entity-latest and small by construction.
    """
    write_partitioned_parquet(
        df.coalesce(1).withColumn("by_date", F.lit(date_str)), prefix, ["by_date"]
    )


def read_state_snapshot_by_date(
    spark: SparkSession, prefix: str, date_str: str, schema: T.StructType
) -> DataFrame:
    """S8 — dated snapshot source with empty-DataFrame fallback (first
    run / missing day). Reference: ``utils/state_io.py:14-29``.

    No existence probe: the read itself raises ``PATH_NOT_FOUND`` on a
    missing directory and ``UNABLE_TO_INFER_SCHEMA`` on one without data
    files, and only those two mean "no snapshot". Anything else (a
    corrupt data file, a permission error) raises: reading it as empty
    would silently restart every entity's voyage ids.
    """
    path = f"{prefix.rstrip('/')}/by_date={date_str}/"
    try:
        raw = spark.read.parquet(path)
    except AnalysisException as e:
        if e.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return spark.createDataFrame([], schema)
    # cast-by-name to the declared schema rather than an enforced read:
    # an enforced read THROWS on physical-type drift, and treating that as
    # "no snapshot" would silently reset every entity's state
    return cast_to_schema(raw, schema)


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled storage for co-located joins.

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT an exchange — the shuffle is paid once at write time instead
    of on every join (the scale answer for fact⋈fact joins AQE cannot
    broadcast; the reference had no equivalent, it re-shuffled per run).
    ``sortBy`` additionally makes the merge side of a sort-merge join
    sort-free. Requires the session's warehouse catalog (saveAsTable).
    """
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def list_partitions(
    df: DataFrame, partition_cols: list[str]
) -> list[tuple]:
    """O2 — ordered distinct partition tuples (for run logs / manifest
    checks). Reference: ``raw_to_staging.py:160-169``. The collect is
    |partitions|-sized, not |rows|-sized — partition tuples only.
    """
    rows = (
        df.select(*partition_cols).distinct().orderBy(*partition_cols).collect()
    )
    return [tuple(r) for r in rows]


def register_table_views(
    spark: SparkSession, sf_dir: str, tables: list[str]
) -> None:
    """S10 — register parquet tables as temp views for the spark.sql
    consumption layer (the Athena external-table analog,
    ``athena_ddl_scripts/athena_external_tables.sql:14-131``; no MSCK
    needed — the view reads the table root and Catalyst prunes).
    """
    for t in tables:
        read_parquet_table(spark, f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def delete_keys_partition_scoped(
    spark,
    path: str,
    key_col: str,
    keys: list,
    partition_cols: list[str],
) -> int:
    """Targeted hard delete (right-to-be-forgotten): remove every row
    whose ``key_col`` is in ``keys`` from a partitioned parquet dataset,
    rewriting ONLY the partitions that actually contain those keys.

    The two-step shape is what makes this viable on a 100 TB table:

    1. the key set rides a BROADCAST semi-join (a DataFrame, never an
       ``isin`` literal list — a million-key GDPR batch would otherwise
       inflate the plan tree and defeat parquet filter pushdown) to find
       the DISTINCT affected partition tuples — a driver-sized list;
    2. only those partitions are re-read, anti-joined, and replaced via
       dynamic partition overwrite. Untouched partitions' files are
       never opened, never rewritten. The rewrite is
       ``write_partitioned_parquet``, the same commit as every other
       partitioned overwrite.

    Partition tuples are matched with NULL-SAFE equality (a NULL
    partition value is legal and must still be purgeable), and a fully-
    emptied partition's files are deleted through the Hadoop FileSystem
    using the ACTUAL file paths from the scan — never a hand-built
    ``col=value`` fragment, which breaks on Hive path-escaped values
    (':' '/' '=' '%') and on NULLs. Returns the number of affected
    partitions. (With a transactional table format this is ``DELETE
    WHERE``; this is the parquet-native equivalent, non-atomic across
    partitions by nature — run it like any maintenance job, serialized
    per table.)

    Crash semantics: emptied partitions (every row purged) are deleted
    FIRST, then the surviving affected partitions are rewritten — the
    rewrite never scans the deleted directories because its read
    predicate excludes them. A crash between the two steps leaves the
    purged keys still present in the NOT-yet-rewritten partitions; the
    operation is idempotent, so a failed run must simply be re-run to
    complete the purge (the re-run re-detects the remaining keys).
    """
    if not keys:
        return 0
    df = spark.read.parquet(path)
    key_df = F.broadcast(
        spark.createDataFrame([(k,) for k in keys], [key_col]).select(
            F.col(key_col).cast(dict(df.dtypes)[key_col])
        )
    )
    affected = (
        df.join(key_df, key_col, "left_semi")
        .select(*partition_cols)
        .distinct()
        .collect()
    )
    if not affected:
        return 0

    def any_partition(rows) -> "F.Column":
        """OR over the rows' partition tuples, NULL-safe per column."""
        pred = None
        for row in rows:
            clause = F.lit(True)
            for c in partition_cols:
                clause = clause & F.col(c).eqNullSafe(F.lit(row[c]))
            pred = clause if pred is None else (pred | clause)
        return pred

    kept = df.filter(any_partition(affected)).join(key_df, key_col, "left_anti")
    kept_parts = {
        tuple(r[c] for c in partition_cols)
        for r in kept.select(*partition_cols).distinct().collect()
    }
    surviving = [
        row
        for row in affected
        if tuple(row[c] for c in partition_cols) in kept_parts
    ]
    emptied = [
        row
        for row in affected
        if tuple(row[c] for c in partition_cols) not in kept_parts
    ]
    # Step A — drop fully-emptied partitions first (their every row is a
    # purge target, so removal IS the delete; no rewrite needed and no
    # purged-rows-still-readable window if step B never runs). Real
    # directory paths come from the scan itself (input_file_name reflects
    # Hive escaping exactly) — never a hand-built col=value fragment.
    if emptied:
        from urllib.parse import unquote

        files = (
            df.filter(any_partition(emptied))
            .select(F.input_file_name().alias("f"))
            .distinct()
            .collect()
        )
        # input_file_name returns the URI-ENCODED form (the on-disk
        # Hive-escaped 'day=a%3A1' arrives as 'day=a%253A1') — decode
        # once to get the real filesystem path
        emptied_dirs = {unquote(r["f"]).rsplit("/", 1)[0] for r in files}
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for d in sorted(emptied_dirs):
            p = jvm.org.apache.hadoop.fs.Path(d)
            p.getFileSystem(conf).delete(p, True)
    # Step B — rewrite only the SURVIVING affected partitions. The read
    # predicate covers surviving partitions only, so the plan never
    # touches the directories deleted in step A.
    if surviving:
        kept_surviving = df.filter(any_partition(surviving)).join(
            key_df, key_col, "left_anti"
        )
        write_partitioned_parquet(kept_surviving, path, partition_cols)
    return len(affected)


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    num_files: int | None = None,
) -> None:
    """Write a parquet dataset Z-ORDER-clustered on two integer columns:
    rows are range-partitioned and sorted by the Morton interleave of
    (x, y), so each output file covers a tight square in BOTH dimensions
    and its parquet column min/max statistics (zone maps) prune scans
    for 2-D predicates — the layout q283 audits, as an actual write path
    (what table formats expose as ``OPTIMIZE ... ZORDER BY``).

    The key is a plain codegen column expression (functions/spatial.py
    morton_key), dropped before the write; ``repartitionByRange`` gives
    globally ordered files and ``sortWithinPartitions`` orders rows
    inside each file so row-group stats tighten too. Callers quantize
    coordinates to the ``bits`` grid first (e.g. grid_cell).

    tests/test_writers.py proves the effect with REAL footer statistics:
    the per-file (x-span × y-span) area of a z-ordered write is a
    fraction of an arrival-order write's.
    """
    from noaa_ais_glue_lakehouse_spark.functions.spatial import morton_key

    keyed = df.withColumn("_zkey", morton_key(F.col(x_col), F.col(y_col), bits))
    part = (
        keyed.repartitionByRange(num_files, "_zkey")
        if num_files
        else keyed.repartitionByRange("_zkey")
    )
    (
        part.sortWithinPartitions("_zkey")
        .drop("_zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# Round 6: manifest-based table versioning (poor-man's time travel)
# ---------------------------------------------------------------------------


def _versioned_fs(spark: SparkSession, path: str):
    """(fs, root_path, manifest_dir_path) triple for a versioned table."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    HPath = jvm.org.apache.hadoop.fs.Path
    fs = HPath(path).getFileSystem(conf)
    root = fs.makeQualified(HPath(path))
    man_dir = HPath(f"{root.toString()}/_manifests")
    return fs, root, man_dir, HPath


def _touch(fs, hpath, payload: bytes = b"") -> None:
    """Create-or-recreate a file (optionally with ``payload`` bytes),
    refreshing its mtime."""
    out = fs.create(hpath, True)
    if payload:
        out.write(bytearray(payload))
    out.close()


def _read_json(fs, hpath) -> dict:
    """Parse a small JSON file (a manifest or an in-flight marker)."""
    import json as _json

    stream = fs.open(hpath)
    try:
        return _json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def _fs_now_ms(fs, man_dir, HPath) -> int:
    """Filesystem-clock 'now': the mtime of a freshly created probe file
    on the SAME filesystem the age gate reads mtimes from, so the orphan
    grace window is immune to driver↔storage clock skew (and degrades
    loudly, not silently, on stores with synthetic mtimes)."""
    import uuid as _uuid

    probe = HPath(f"{man_dir.toString()}/.now-{_uuid.uuid4().hex[:8]}")
    out = fs.create(probe, True)
    out.close()
    try:
        return fs.getFileStatus(probe).getModificationTime()
    finally:
        fs.delete(probe, False)


def _list_manifest_versions(fs, man_dir) -> dict:
    """{version_number: hadoop Path} for every committed manifest."""
    if not fs.exists(man_dir):
        return {}
    return {
        int(st.getPath().getName().split(".")[0]): st.getPath()
        for st in fs.listStatus(man_dir)
        if st.getPath().getName().endswith(".json")
        and not st.getPath().getName().startswith(".")
    }


def write_versioned(
    df: DataFrame, path: str, audit=None, heartbeat_ms: int = 60_000
) -> int:
    """Append a new immutable VERSION of a table and return its number.

    ``audit``: optional callable ``DataFrame -> None`` invoked on the
    RE-READ staged data BEFORE the publish rename — the
    Write-Audit-Publish hook (:func:`write_versioned_wap`). The rename
    is atomic and does not change bytes, so the audit sees the exact
    bytes readers would get, while the rename→manifest-CAS window stays
    seconds wide no matter how long the audit runs (an audit between
    rename and CAS would widen the window a concurrent
    :func:`vacuum_versions` must out-wait). An audit that raises aborts
    the publish: no manifest is created, readers never see the version,
    and the orphaned staging dir ages into the next vacuum sweep.

    ``heartbeat_ms``: while this writer is in flight it maintains a
    liveness marker ``_manifests/.inflight-{token}``, re-touched every
    ``heartbeat_ms`` by a daemon thread, so a concurrent
    :func:`vacuum_versions` can tell a LIVE writer's staging/data dir
    from a crashed writer's orphan even when the write itself outlasts
    the vacuum grace window (multi-minute 100 TB partition writes). The
    marker is removed on every exit path; after a crash it simply ages
    past the grace window along with the orphan it guarded. The beat
    survives transient FS errors (S3 throttle, HDFS failover): the
    thread keeps looping — ``fs.create(path, True)`` RECREATES a
    vacuumed marker rather than raising, so an exception here is never
    "marker gone", and exiting on the first blip would leave a live
    multi-hour writer unguarded for the rest of its run (warns after 5
    consecutive misses instead). The marker's CONTENT records this
    writer's ``heartbeat_ms`` so vacuum can gate marker staleness on
    ``max(orphan_grace_ms, 2*heartbeat_ms)`` — a caller who picks a
    heartbeat at or above the vacuum grace can therefore never make a
    LIVE writer's marker look stale.

    Layout: ``path/d-{token}/`` holds the parquet data under a
    writer-unique name; ``path/_manifests/{N}.json`` commits version N
    by naming its data dir and row count; the highest-numbered manifest
    IS the current-version pointer. Write protocol (crash-safe AND
    race-safe — the manifest create is the commit CAS):

    1. data lands under a dot-prefixed, writer-unique staging dir
       (invisible to readers), then one atomic rename publishes the
       unique ``d-{token}`` data dir — concurrent writers can never
       collide on the data path;
    2. the manifest is created ONLY after the data rename, with
       fail-if-exists semantics (``fs.create(path, overwrite=False)``).
       If another writer committed the same number first, the create
       raises and this writer retries at N+1 — a lost race fails
       forward, never silently overwrites, and never touches the
       winner's data;
    3. a crash between (1) and (2) leaves an orphan data dir no
       manifest references: readers never see it and
       :func:`vacuum_versions` sweeps it;
    4. both renames are checked — Hadoop ``rename`` returns ``False``
       instead of raising, so a failed publish raises ``IOError`` here
       rather than reporting a version that was never committed.

    The manifest's ``data_dir`` field is authoritative (data dir names
    do not encode the version). This is the smallest useful subset of a
    table format's time travel: reproducible training runs pin
    ``read_version(..., version=N)``, audits diff two versions with the
    snapshot-diff operator, and the reference's overwrite-in-place jobs
    gain rollback for free. Old versions are immutable until
    :func:`vacuum_versions` removes them. The CAS relies on atomic
    create-no-overwrite, which holds on HDFS and local filesystems
    (object stores without atomic create need an external lock).
    reference: jobs/raw_to_staging.py:40-44 (blind overwrite — the
    failure mode this closes).
    """
    import json as _json
    import threading as _threading
    import uuid as _uuid
    import warnings as _warnings

    if heartbeat_ms <= 0:
        raise ValueError(f"heartbeat_ms must be positive, got {heartbeat_ms}")
    spark = df.sparkSession
    fs, root, man_dir, HPath = _versioned_fs(spark, path)
    fs.mkdirs(man_dir)
    token = _uuid.uuid4().hex[:12]
    staging = f"{root.toString()}/.staging-{token}"
    marker = HPath(f"{man_dir.toString()}/.inflight-{token}")
    # marker content carries the beat interval so vacuum_versions can
    # derive THIS writer's staleness threshold (max(grace, 2*heartbeat))
    marker_payload = _json.dumps({"heartbeat_ms": heartbeat_ms}).encode()
    _touch(fs, marker, marker_payload)
    stop = _threading.Event()

    def _beat() -> None:
        misses = 0
        while not stop.wait(heartbeat_ms / 1000.0):
            try:
                _touch(fs, marker, marker_payload)
                misses = 0
            except Exception:
                # Transient FS error (throttle/failover) — KEEP beating.
                # create(path, True) recreates a deleted marker rather
                # than raising, so this is never "marker gone"; exiting
                # here would strand a live writer unguarded and reopen
                # the vacuum data-loss window the marker exists to close.
                misses += 1
                if misses == 5:
                    _warnings.warn(
                        f"versioned-write heartbeat: {misses} consecutive "
                        f"marker touch failures on {marker}; still retrying"
                    )

    beater = _threading.Thread(target=_beat, daemon=True)
    beater.start()
    try:
        df.write.mode("overwrite").parquet(staging)
        n_rows = spark.read.parquet(staging).count()
        if audit is not None:
            # audit the staging bytes BEFORE the publish rename (rename
            # is atomic and byte-preserving, so this IS what readers
            # would see); a raise aborts the publish with the manifest
            # never created — WAP's whole point
            audit(spark.read.parquet(staging))
        data_name = f"d-{token}"
        dest = HPath(f"{root.toString()}/{data_name}")
        if not fs.rename(HPath(staging), dest):
            raise IOError(f"versioned write: data rename failed: {dest}")
        n = max(_list_manifest_versions(fs, man_dir), default=0) + 1
        for _ in range(1000):  # bounded CAS retry; each loss = real commit
            man_path = HPath(f"{man_dir.toString()}/{n}.json")
            try:
                out = fs.create(man_path, False)  # CAS: fail if exists
            except Exception:
                n += 1  # lost the race to a concurrent committer
                continue
            manifest_bytes = _json.dumps(
                {"version": n, "data_dir": data_name, "n_rows": n_rows}
            ).encode("utf-8")
            out.write(bytearray(manifest_bytes))
            out.close()
            return n
        raise IOError(
            f"versioned write: could not claim a version after 1000 tries: "
            f"{path}"
        )
    finally:
        stop.set()
        beater.join(timeout=5.0)
        try:
            fs.delete(marker, False)
        except Exception:
            pass  # marker already swept; nothing to clean


def read_version(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read a versioned table written by :func:`write_versioned` —
    the latest manifest by default, or a pinned historical ``version``
    (time travel). Raises ``ValueError`` for a version no manifest
    names (incl. orphan data dirs from crashed writers)."""
    fs, root, man_dir, HPath = _versioned_fs(spark, path)
    if not fs.exists(man_dir):
        raise ValueError(f"not a versioned table (no _manifests): {path}")
    versions = _list_manifest_versions(fs, man_dir)
    if not versions:
        raise ValueError(f"versioned table has no committed versions: {path}")
    pick = max(versions) if version is None else version
    if pick not in versions:
        raise ValueError(
            f"version {pick} not committed (have {sorted(versions)})"
        )
    manifest = _read_json(fs, versions[pick])
    return spark.read.parquet(f"{root.toString()}/{manifest['data_dir']}")


def vacuum_versions(
    spark: SparkSession,
    path: str,
    keep_last: int = 1,
    orphan_grace_ms: int = 900_000,
) -> dict:
    """Physically delete all but the newest ``keep_last`` versions of a
    :func:`write_versioned` table, plus any orphan data/staging dirs no
    surviving manifest references (crashed or lost-race writers).

    Honors ``write_versioned``'s "immutable until explicitly vacuumed"
    contract: this IS the explicit vacuum. The latest version is never
    touched (``keep_last`` is clamped to ≥1). Time travel to the kept
    versions keeps working; pinned reads of removed versions raise
    ``ValueError`` afterwards, by design.

    SAFE TO RUN CONCURRENTLY WITH WRITERS — a LIVENESS guarantee, not
    just a grace window: every :func:`write_versioned` writer maintains
    a ``_manifests/.inflight-{token}`` marker re-touched every
    ``heartbeat_ms`` (default 60 s) for as long as it runs, and the
    sweep skips any unreferenced ``d-{token}``/``.staging-{token}`` dir
    whose marker is younger than ``max(orphan_grace_ms,
    2*heartbeat_ms)`` — the beat interval is read from the marker's
    own content, so the staleness threshold always leaves a live
    writer at least one full missed beat of slack even when the caller
    runs vacuum with a grace below the writer's heartbeat. So even a
    write or audit that runs for HOURS (100 TB partitions) cannot lose
    its data to a concurrent vacuum. The age gate itself is belt-and-braces
    on top: dirs without a live marker are still only deleted once
    their own mtime is older than ``orphan_grace_ms`` (default 15 min),
    and "now" is read from the SAME filesystem (a probe file's mtime,
    :func:`_fs_now_ms`), immune to driver↔storage clock skew. A crashed
    writer's marker stops beating, ages past the window together with
    its orphan, and both get collected on the next vacuum. Setting
    ``orphan_grace_ms=0`` restores the old eager sweep (only safe when
    no writer can be in flight). NOTE: the mtime gate assumes real
    directory mtimes (local/HDFS); on object stores with synthetic dir
    mtimes the MARKER path still works (markers are files), but the
    no-marker fallback degrades to eager — run vacuum only from the
    writer's quiesce window there.

    Returns ``{"removed_versions": [...], "kept_versions": [...],
    "swept_orphans": [...], "skipped_young_orphans": [...]}``.
    """
    fs, root, man_dir, HPath = _versioned_fs(spark, path)
    if not fs.exists(man_dir):
        raise ValueError(f"not a versioned table (no _manifests): {path}")
    versions = _list_manifest_versions(fs, man_dir)
    keep_last = max(1, int(keep_last))
    ordered = sorted(versions)
    kept = ordered[-keep_last:]
    removed = ordered[: -keep_last] if len(ordered) > keep_last else []
    referenced = {_read_json(fs, versions[v])["data_dir"] for v in kept}
    for v in removed:
        data_dir = _read_json(fs, versions[v])["data_dir"]
        if data_dir not in referenced:  # defensive: never touch kept data
            fs.delete(HPath(f"{root.toString()}/{data_dir}"), True)
        fs.delete(versions[v], False)
    swept = []
    skipped_young = []
    now_ms = _fs_now_ms(fs, man_dir, HPath)
    inflight = {}  # writer token -> (marker path, mtime, effective grace)
    for st in fs.listStatus(man_dir):
        nm = st.getPath().getName()
        if nm.startswith(".inflight-"):
            # The marker's content records the writer's heartbeat_ms; a
            # live marker is judged stale only past max(grace, 2*beat),
            # so a heartbeat_ms >= orphan_grace_ms writer (or a vacuum
            # run with a small grace against a default-beat writer) can
            # never have its LIVE marker aged out between touches.
            # Empty/unreadable content (pre-round-10 marker, torn read)
            # falls back to the caller's grace alone.
            try:
                beat_ms = int(_read_json(fs, st.getPath())["heartbeat_ms"])
                grace = max(orphan_grace_ms, 2 * beat_ms)
            except Exception:
                grace = orphan_grace_ms
            inflight[nm[len(".inflight-"):]] = (
                st.getPath(),
                st.getModificationTime(),
                grace,
            )
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name == "_manifests" or name in referenced:
            continue
        if st.isDirectory():
            tok = None
            if name.startswith("d-"):
                tok = name[2:]
            elif name.startswith(".staging-"):
                tok = name[len(".staging-"):]
            beating = (
                tok in inflight
                and now_ms - inflight[tok][1] < inflight[tok][2]
            )
            if beating or (
                now_ms - st.getModificationTime() < orphan_grace_ms
            ):
                # a live writer (fresh heartbeat marker) or a young dir
                # that may belong to one — leave it; a real orphan's
                # marker stops beating and ages into the next vacuum
                skipped_young.append(name)
                continue
            swept.append(name)
            fs.delete(st.getPath(), True)
    for tok, (mpath, mtime, grace) in inflight.items():
        if now_ms - mtime >= grace:
            fs.delete(mpath, False)  # stale marker from a crashed writer
    return {
        "removed_versions": removed,
        "kept_versions": kept,
        "swept_orphans": swept,
        "skipped_young_orphans": skipped_young,
    }


def write_versioned_wap(df: DataFrame, path: str, rules) -> int:
    """WRITE-AUDIT-PUBLISH onto a versioned table (the Iceberg/Netflix
    WAP pattern on this layer's primitives): stage the data, run the
    declarative expectations engine (operators/expectations.py) against
    the exact staged bytes readers would get (the publish rename is
    atomic and byte-preserving, so auditing BEFORE it audits the same
    bytes while keeping the rename→commit window seconds wide), then
    rename + commit the manifest ONLY if every rule passes. On failure
    raises ``ValueError`` naming the failing rules with violation
    counts; the staging dir is left unreferenced — invisible to every
    reader, reclaimed by :func:`vacuum_versions` after the grace window
    — so a bad batch can never become a readable version, and a GOOD
    publish is still the same crash/race-safe CAS as
    :func:`write_versioned`.

    reference: jobs/raw_to_staging.py:40-44 writes blind; this is the
    gated form a production lake runs.
    """
    from noaa_ais_glue_lakehouse_spark.operators.expectations import check

    def _audit(staged: DataFrame) -> None:
        rows = check(staged, rules).collect()  # rule-count-bounded
        failing = [r for r in rows if r["passed"] == 0]
        if failing:
            detail = ", ".join(
                f"{r['rule']}={r['n_violations']}/{r['n_rows']}"
                for r in failing
            )
            raise ValueError(f"WAP audit failed, publish aborted: {detail}")

    return write_versioned(df, path, audit=_audit)
