"""Raw-zone cleaning operators (SURVEY §2.2 P1-P7, P13; §2.8 D1).

Each function is a pure ``DataFrame -> DataFrame`` transformer mirroring one
reference operator (citations into /root/reference). Semantics are preserved
exactly — including deliberate quirks flagged in SURVEY §7.4 (upper-bound-only
clamps, the 3-format timestamp parse) — so oracle outputs match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _q(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def with_sql_columns(df: DataFrame, exprs: dict[str, str]) -> DataFrame:
    """``withColumns`` for SQL expression strings, built as one ``selectExpr``.

    The cleaning chain's per-column projections are written as SQL strings:
    each Column function call costs the driver a few JVM round trips, a SQL
    string one, and with one Column per column the chain spent ~0.35 s per
    call building its plan. Replaced columns keep their position; new ones
    are appended in ``exprs`` order.
    """
    out = [f"{exprs[c]} AS {_q(c)}" if c in exprs else _q(c) for c in df.columns]
    out += [f"{e} AS {_q(c)}" for c, e in exprs.items() if c not in df.columns]
    return df.selectExpr(*out)


def _canonical_name(name: str, mapping: dict[str, str]) -> str:
    return mapping.get(name.lower(), name) if name not in mapping.values() else name


def normalize_columns(df: DataFrame, mapping: dict[str, str] | None = None) -> DataFrame:
    """P1 — rename drifted source columns to canonical names.

    Reference: ``utils/common_functions_raw.py:134-146``. Single ``select``
    with aliases (one projection, not N withColumnRenamed nodes).
    """
    mapping = mapping or COLUMN_MAPPING
    return df.selectExpr(*[f"{_q(c)} AS {_q(_canonical_name(c, mapping))}" for c in df.columns])


def _aligned(src: str | None, dtype: T.DataType) -> str:
    # SQL's bare TIMESTAMP follows spark.sql.timestampType; the declared type
    # is the session-independent TIMESTAMP_LTZ
    sql_type = "timestamp_ltz" if isinstance(dtype, T.TimestampType) else dtype.simpleString()
    # try_cast, not cast: under ANSI (Spark 4's default) one malformed
    # number would abort the whole job; the reference ran with ANSI off,
    # where it becomes NULL
    return f"CAST(NULL AS {sql_type})" if src is None else f"try_cast({_q(src)} AS {sql_type})"


def _null_if_empty(sql: str) -> str:
    return f"nullif({sql}, '')"


def align_schema(df: DataFrame, schema: T.StructType) -> DataFrame:
    """P2 — add missing expected columns as typed nulls, drop extras,
    cast-by-name to the declared type (never positional). A value that
    does not parse as the declared type becomes NULL.

    Reference: ``pipelines/raw_to_staging.py:91-106`` + the LAT/LON-swap
    post-mortem (``docs/03-raw-to-staging-postmortem-2025.md:75-100``).
    """
    present = {c.lower(): c for c in df.columns}
    return df.selectExpr(
        *[
            f"{_aligned(present.get(f.name.lower()), f.dataType)} AS {_q(f.name)}"
            for f in schema.fields
        ]
    )


def replace_empty_with_null(df: DataFrame) -> DataFrame:
    """P3 — '' -> NULL on every string column.

    Reference: ``utils/common_functions_raw.py:117-127``.
    """
    strings = [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]
    return with_sql_columns(df, {c: _null_if_empty(_q(c)) for c in strings})


def conform_raw_columns(df: DataFrame, schema: T.StructType) -> DataFrame:
    """P1→P3 as one projection: each declared column is the renamed
    source column, cast by name, with '' -> NULL on strings — the same
    rows as ``replace_empty_with_null(align_schema(normalize_columns(df),
    schema))``, built as one ``select`` instead of three.

    Two source columns that rename to one declared column are an error
    here, as the ambiguous reference is in the three-step form.
    """
    wanted = {f.name.lower() for f in schema.fields}
    present: dict[str, str] = {}
    for c in df.columns:
        key = _canonical_name(c, COLUMN_MAPPING).lower()
        if key in wanted and key in present:
            raise ValueError(f"source columns {present[key]!r} and {c!r} both map to {key!r}")
        present[key] = c
    out = []
    for f in schema.fields:
        sql = _aligned(present.get(f.name.lower()), f.dataType)
        if isinstance(f.dataType, T.StringType):
            sql = _null_if_empty(sql)
        out.append(f"{sql} AS {_q(f.name)}")
    return df.selectExpr(*out)


# reference: utils/common_functions_raw.py:28-37 — accepted timestamp
# formats, each behind a gate that every string it parses matches (Spark's
# parser takes a leading '-' on the year, any case of 'T', and 1-3 fraction
# digits for .SSS; every field is fixed width, ASCII digits only)
_TS_FORMATS = [
    ("yyyy-MM-dd HH:mm:ss", r"^-?\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$"),
    ("yyyy-MM-dd'T'HH:mm:ss", r"^-?\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}$"),
    ("yyyy-MM-dd'T'HH:mm:ss.SSS", r"^-?\d{4}-\d{2}-\d{2}[Tt]\d{2}:\d{2}:\d{2}\.\d{1,3}$"),
]

_PARTITION_FORMATS = {"year": "yyyy", "month": "MM", "day": "dd"}


def parse_base_datetime(
    df: DataFrame,
    col: str = "BaseDateTime",
    drop_unparseable: bool = True,
) -> DataFrame:
    """P4 — strip trailing Z/offset, parse with the first of 3 formats
    that accepts the string, drop unparseable rows, derive zero-padded
    year/month/day partition strings.

    Reference: ``utils/common_functions_raw.py:20-50``, which tries the
    formats in order (a 3-way ``coalesce``). The three formats accept
    disjoint sets of strings, so here each row goes by its shape (one
    ``rlike`` gate per format) to the only format that can accept it, and
    runs at most one parse: the same timestamps, without the failed
    attempts. ``tests/test_cleaning.py`` pins the equality against the
    coalesce row by row.
    """
    stripped = F.regexp_replace(
        F.regexp_replace(F.col(col), r"Z$", ""), r"[+-]\d{2}:\d{2}$", ""
    )
    branches = [
        (stripped.rlike(gate), F.try_to_timestamp(stripped, F.lit(fmt)))
        for fmt, gate in _TS_FORMATS
    ]
    parsed = F.when(*branches[0])
    for gate, value in branches[1:]:
        parsed = parsed.when(gate, value)
    out = df.withColumn(col, parsed)
    if drop_unparseable:
        out = out.filter(f"{_q(col)} IS NOT NULL")
    return with_sql_columns(
        out, {p: f"date_format({_q(col)}, '{fmt}')" for p, fmt in _PARTITION_FORMATS.items()}
    )


def clean_coordinates(
    df: DataFrame, lat_col: str = "LAT", lon_col: str = "LON"
) -> tuple[DataFrame, DataFrame]:
    """P5 — split (valid, invalid) on LAT∈[-90,90] AND LON∈[-180,180].

    Returns both halves; the caller routes invalid to the quarantine sink
    (S6). Reference: ``utils/common_functions_raw.py:58-100``.
    """
    lat, lon = _q(lat_col), _q(lon_col)
    cond = f"{lat} BETWEEN -90.0D AND 90.0D AND {lon} BETWEEN -180.0D AND 180.0D"
    return df.filter(cond), df.filter(f"NOT ({cond}) OR {lat} IS NULL OR {lon} IS NULL")


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
    # CASE (not least): least() ignores NULLs, which would turn a NULL
    # reading into the cap and flip MovementFlag downstream.
    return with_sql_columns(
        df,
        {
            c: f"CASE WHEN {_q(c)} > {hi}D THEN {hi}D ELSE {_q(c)} END"
            for c, hi in ((sog_col, 100.0), (cog_col, 360.0), (heading_col, 511.0))
            if c in df.columns
        },
    )


def derive_movement_flag(df: DataFrame, sog_col: str = "SOG") -> DataFrame:
    """P7 — MovementFlag = 1 if SOG > 0 else 0.

    Reference: ``utils/common_functions_raw.py:152-159``.
    """
    return with_sql_columns(df, {"MovementFlag": movement_flag(sog_col)})


def movement_flag(sog_col: str = "SOG") -> str:
    """The ``derive_movement_flag`` column on its own, as SQL."""
    return f"CAST(CASE WHEN {_q(sog_col)} > 0 THEN 1 ELSE 0 END AS INT)"


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
    """D1 — exact-row dedup on ``cols``: one row per distinct content.

    Reference: ``utils/common_functions_raw.py:198-219``, which keys each
    row by ``sha2(to_json(struct(cols)), 256)`` and drops duplicate keys.
    The column set is pinned by the caller (SURVEY §7.4.6) and defaults to
    all columns in current order, matching the reference's call site.

    Here the rows group on their own columns, so the dedup plans as one
    hash aggregate with no aggregate buffers: no sort, no per-row JSON,
    no 64-character key in the shuffle. The groups are the reference
    key's groups:

    - NULL and '' stay apart in both, and every NaN is one value in both;
    - ``to_json`` keeps -0.0 and 0.0 apart while Spark's grouping merges
      them, so each float column in ``cols`` adds a sign-of-zero flag to
      the key (set only where the value is 0), and the sign is put back on
      the output value, which the grouping normalizes to 0.0;
    - ``to_json`` prints timestamps to the millisecond, so the reference
      merges timestamps that differ below it and this grouping does not.
      P4's formats carry at most 3 fraction digits, so on the pipeline's
      rows the two agree.

    ``cols`` must be groupable types (no MAP). With a ``cols`` subset any
    one row of each group is kept, as in the reference.
    """
    cols = cols or df.columns
    types = dict(df.dtypes)
    floats = [c for c in cols if types[c] in ("double", "float")]
    flags = {c: f"_neg_zero_{i}" for i, c in enumerate(floats)}
    # pow(-0.0, -1) is -inf: 1/c would say the same but raises under ANSI,
    # and Spark's atan2 adds 0.0 to its arguments, which erases the sign
    flagged = with_sql_columns(
        df, {f: f"CASE WHEN {_q(c)} = 0 THEN pow({_q(c)}, -1) < 0 END" for c, f in flags.items()}
    )
    deduped = flagged.dropDuplicates([*cols, *flags.values()])
    signed = with_sql_columns(
        deduped, {c: f"CASE WHEN {f} THEN -{_q(c)} ELSE {_q(c)} END" for c, f in flags.items()}
    )
    return signed.drop(*flags.values())


def safe_cast_columns(df: DataFrame, type_map: dict[str, str]) -> DataFrame:
    """P13 — cast only the columns that exist to the mapped type.

    Reference: ``utils/common_functions_curated.py:144-158``.
    """
    out = df
    for c, t in type_map.items():
        if c in out.columns:
            out = out.withColumn(c, F.col(c).cast(t))
    return out
