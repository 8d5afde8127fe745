"""Raw-zone cleaning operators (SURVEY §2.2 P1-P7, P13; §2.8 D1).

Each function is a pure ``DataFrame -> DataFrame`` transformer mirroring one
reference operator (citations into /root/reference). Semantics are preserved
exactly — including deliberate quirks flagged in SURVEY §7.4 (upper-bound-only
clamps, 3-format timestamp coalesce) — so oracle outputs match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from noaa_ais_glue_lakehouse_spark.functions.hashing import content_hash_sha256

# reference: utils/column_mapping.py:6-21 — source-drift rename map
COLUMN_MAPPING: dict[str, str] = {
    "latitude": "LAT",
    "longitude": "LON",
    "lat": "LAT",
    "lon": "LON",
    "base_date_time": "BaseDateTime",
    "basedatetime": "BaseDateTime",
    "vessel_name": "VesselName",
    "vessel_type": "VesselType",
    "call_sign": "CallSign",
    "imo_number": "IMO",
    "sog": "SOG",
    "cog": "COG",
    "heading": "Heading",
    "mmsi": "MMSI",
}


def normalize_columns(df: DataFrame, mapping: dict[str, str] | None = None) -> DataFrame:
    """P1 — rename drifted source columns to canonical names.

    Reference: ``utils/common_functions_raw.py:134-146``. Single ``select``
    with aliases (one projection, not N withColumnRenamed nodes).
    """
    mapping = mapping or COLUMN_MAPPING
    cols = []
    for c in df.columns:
        target = mapping.get(c.lower(), c) if c not in mapping.values() else c
        cols.append(F.col(c).alias(target))
    return df.select(*cols)


def align_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """P2 — add missing expected columns as typed nulls, drop extras,
    cast-by-name to the declared type (never positional).

    Reference: ``pipelines/raw_to_staging.py:91-106`` + the LAT/LON-swap
    post-mortem (``docs/03-raw-to-staging-postmortem-2025.md:75-100``).
    """
    present = {c.lower(): c for c in df.columns}
    out = []
    for field in schema.fields:
        src = present.get(field.name.lower())
        if src is None:
            out.append(F.lit(None).cast(field.dataType).alias(field.name))
        else:
            out.append(F.col(src).cast(field.dataType).alias(field.name))
    return df.select(*out)


def replace_empty_with_null(df: DataFrame) -> DataFrame:
    """P3 — '' -> NULL on every string column.

    Reference: ``utils/common_functions_raw.py:117-127``.
    """
    exprs = []
    for field in df.schema.fields:
        if isinstance(field.dataType, T.StringType):
            c = F.col(field.name)
            exprs.append(F.when(c == "", None).otherwise(c).alias(field.name))
        else:
            exprs.append(F.col(field.name))
    return df.select(*exprs)


# reference: utils/common_functions_raw.py:28-37 — accepted timestamp formats
_TS_FORMATS = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss.SSS",
]


def parse_base_datetime(
    df: DataFrame,
    col: str = "BaseDateTime",
    drop_unparseable: bool = True,
    derive_partitions: bool = True,
) -> DataFrame:
    """P4 — strip trailing Z/offset, 3-format to_timestamp coalesce, drop
    unparseable rows, derive zero-padded year/month/day partition strings.

    Reference: ``utils/common_functions_raw.py:20-50``.
    """
    stripped = F.regexp_replace(
        F.regexp_replace(F.col(col), r"Z$", ""), r"[+-]\d{2}:\d{2}$", ""
    )
    parsed = F.coalesce(*[F.try_to_timestamp(stripped, F.lit(fmt)) for fmt in _TS_FORMATS])
    out = df.withColumn(col, parsed)
    if drop_unparseable:
        out = out.filter(F.col(col).isNotNull())
    if derive_partitions:
        out = (
            out.withColumn("year", F.date_format(col, "yyyy"))
            .withColumn("month", F.date_format(col, "MM"))
            .withColumn("day", F.date_format(col, "dd"))
        )
    return out


def clean_coordinates(
    df: DataFrame, lat_col: str = "LAT", lon_col: str = "LON"
) -> tuple[DataFrame, DataFrame]:
    """P5 — split (valid, invalid) on LAT∈[-90,90] AND LON∈[-180,180].

    Returns both halves; the caller routes invalid to the quarantine sink
    (S6). Reference: ``utils/common_functions_raw.py:58-100``.
    """
    cond = F.col(lat_col).between(-90.0, 90.0) & F.col(lon_col).between(-180.0, 180.0)
    return df.filter(cond), df.filter(~cond | F.col(lat_col).isNull() | F.col(lon_col).isNull())


def detect_swapped_coordinates(df: DataFrame, lat_col: str = "LAT", lon_col: str = "LON") -> bool:
    """P17 — mean-based swapped-LAT/LON detection (documented safeguard,
    ``docs/03-raw-to-staging-postmortem-2025.md:160-176``; not implemented in
    the reference's code — implemented here as recommended by SURVEY §2.2).
    """
    row = df.agg(
        F.abs(F.mean(lat_col)).alias("alat"), F.abs(F.mean(lon_col)).alias("alon")
    ).first()
    if row is None or row["alat"] is None:
        return False
    return row["alat"] > 90.0 and (row["alon"] or 0.0) <= 90.0


def clean_sog_cog_heading(
    df: DataFrame,
    sog_col: str = "SOG",
    cog_col: str = "COG",
    heading_col: str = "Heading",
) -> DataFrame:
    """P6 — clamp SOG≤100, COG≤360, Heading≤511 (upper bound ONLY; negatives
    pass through — preserved reference semantic, SURVEY §7.4.3).

    Reference: ``utils/common_functions_raw.py:103-114``.
    """
    out = df
    for c, hi in ((sog_col, 100.0), (cog_col, 360.0), (heading_col, 511.0)):
        if c in out.columns:
            # when/otherwise (not least): least() ignores NULLs, which would
            # turn a NULL reading into the cap and flip MovementFlag downstream.
            out = out.withColumn(
                c, F.when(F.col(c) > hi, F.lit(hi)).otherwise(F.col(c))
            )
    return out


def derive_movement_flag(df: DataFrame, sog_col: str = "SOG") -> DataFrame:
    """P7 — MovementFlag = 1 if SOG > 0 else 0.

    Reference: ``utils/common_functions_raw.py:152-159``.
    """
    return df.withColumn(
        "MovementFlag", F.when(F.col(sog_col) > 0, 1).otherwise(0).cast("int")
    )


def add_movement_state(df: DataFrame, sog_col: str = "SOG", threshold: float = 0.5) -> DataFrame:
    """P8 — 'anchored' if SOG < 0.5 else 'moving'.

    Reference: ``utils/common_functions_curated.py:237-248``.
    """
    return df.withColumn("movement_state", movement_state(sog_col, threshold))


def movement_state(sog_col: str = "SOG", threshold: float = 0.5) -> Column:
    """The ``add_movement_state`` column on its own, for callers that add
    it in one projection with other columns."""
    return F.when(F.col(sog_col) < threshold, F.lit("anchored")).otherwise(F.lit("moving"))


def dedup_by_content_hash(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """D1 — content-hash dedup: sha2(to_json(struct(cols)),256) →
    dropDuplicates → drop key.

    Reference: ``utils/common_functions_raw.py:198-219``. The hash column set
    is pinned by the caller (SURVEY §7.4.6) — defaults to all columns in
    current order, matching the reference's behavior at its call site.
    """
    cols = cols or df.columns
    key = "_content_hash"
    return df.withColumn(key, content_hash_sha256(cols)).dropDuplicates([key]).drop(key)


def safe_cast_columns(df: DataFrame, type_map: dict[str, str]) -> DataFrame:
    """P13 — cast only the columns that exist to the mapped type.

    Reference: ``utils/common_functions_curated.py:144-158``.
    """
    out = df
    for c, t in type_map.items():
        if c in out.columns:
            out = out.withColumn(c, F.col(c).cast(t))
    return out
