"""Readers (SURVEY §2.1 S1-S3).

``read_table`` is the canonical parquet table reader: a plain
``spark.read.parquet`` over the table root — partition pruning and filter
pushdown are Catalyst's job, not driver-side path enumeration (the
reference hand-built per-day path lists, ``fact_voyage_trajectory.py:47-55``;
SURVEY §4 flags that as manual partition pruning to delete).

Nanosecond-precision timestamp columns (which Spark reads as long when
``spark.sql.legacy.parquet.nanosAsLong`` is set) are normalized to
microsecond timestamps, truncating like DuckDB/Arrow do on ns→us casts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet_table(
    spark: SparkSession,
    path: str,
    ns_ts_cols: tuple[str, ...] = ("ts",),
) -> DataFrame:
    """Parquet scan with ns-timestamp normalization.

    ``ns_ts_cols`` names columns that are ns-precision in the source files;
    they arrive as LongType (nanos since epoch) under the nanosAsLong conf
    and are converted to micros timestamps here. Columns already read as
    timestamps are left untouched, so the same reader works on us/ms files.
    """
    # Runtime-settable; must be applied here (not only at session build) because
    # callers may pass in an externally built SparkSession that never went
    # through our session factory. Only set when the plain read actually hits
    # the nanos schema error (thrown eagerly at footer/schema inference), so
    # sessions reading only us/ms files are never mutated. When it IS set it
    # must STAY set: the scan re-consults the conf lazily at execution time,
    # so a save/restore here would break the collect that happens after we
    # return. Side effect: later ns-file reads in the same session get
    # LongType instead of an error — which this reader normalizes anyway.
    try:
        df = spark.read.parquet(path)
    except Exception as e:
        # only the nanos schema error earns the conf flip: a missing path
        # or corrupt file must propagate unchanged, NOT mutate the
        # externally-owned session before re-raising
        msg = str(e)
        if "NANOS" not in msg and "nanosAsLong" not in msg:
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    for c in ns_ts_cols:
        field = next((f for f in df.schema.fields if f.name == c), None)
        if field is None:
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            # Parquet files whose timestamps are micros with isAdjustedToUTC=
            # false arrive as TIMESTAMP_NTZ. The engine's invariant is LTZ
            # timestamps under a UTC session (callers pin
            # spark.sql.session.timeZone=UTC at load time), so the NTZ wall
            # clock converts to the same instant. Cast via the explicit
            # TimestampType class — the string name "timestamp" would follow
            # spark.sql.timestampType and silently stay NTZ on sessions that
            # set it.
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def read_csv_with_header(spark: SparkSession, path: str) -> DataFrame:
    """S1 — header-driven CSV source, inference disabled.

    Header names are authoritative (cast-by-name downstream) — the
    LAT/LON-swap post-mortem rule (``docs/03-raw-to-staging-postmortem-2025.md``).
    Reference: ``pipelines/raw_to_staging.py:79-84``.
    """
    reader = spark.read.option("header", True).option("inferSchema", False)
    return reader.csv(path)


def read_parquet_enforced(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """S2 — schema-enforced parquet read (reference
    ``fact_voyage_trajectory.py:62-102``): the declared schema is the
    scan's read schema, so only the declared columns are read and a
    declared column absent from the files reads as NULL.

    Physical-type drift (e.g. INT64 ids in files declared INT32) is NOT
    absorbed: analysis never opens a file footer, so the mismatch raises
    ``FAILED_READ_FILE`` when the plan executes. A drift-tolerant read
    is ``cast_to_schema`` over an inferred read, as
    ``writers.read_state_snapshot_by_date`` does.
    """
    return spark.read.schema(schema).option("mergeSchema", "false").parquet(path)


def cast_to_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast-by-name to a declared schema: each declared column cast to
    its declared type, a missing one NULL of that type, extra columns
    dropped. Unlike an enforced read it never throws on physical-type
    drift (e.g. INT64 ids written against an INT32 declaration)."""
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in df.columns
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )
