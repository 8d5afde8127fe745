"""Unit tests for raw-zone cleaning operators (SURVEY §2.2 P1-P7, P13, D1).

Case inventory ported from the reference suites
``tests/unit/test_parse_base_datetime.py``, ``test_clean_coordinates.py``,
``test_clean_sog_cog_heading.py``, ``test_normalize_columns.py``,
``test_replace_empty_with_null.py``, ``test_derive_movement_flag.py``,
``test_drop_duplicates.py`` — plus NULL-preservation cases the reference
lacks (ADVICE r1: least() vs when/otherwise clamp).
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from noaa_ais_glue_lakehouse_spark.functions.hashing import content_hash_sha256
from noaa_ais_glue_lakehouse_spark.operators.cleaning import (
    COLUMN_MAPPING,
    align_schema,
    clean_coordinates,
    clean_sog_cog_heading,
    conform_raw_columns,
    dedup_by_content_hash,
    derive_movement_flag,
    add_movement_state,
    normalize_columns,
    parse_base_datetime,
    replace_empty_with_null,
    safe_cast_columns,
)


# ---- P4 parse_base_datetime (reference: test_parse_base_datetime.py) ----

def test_parse_valid(spark):
    df = spark.createDataFrame([("2024-01-01 10:00:00",)], ["BaseDateTime"])
    out = parse_base_datetime(df)
    assert out.count() == 1
    row = out.first()
    assert row["year"] == "2024" and row["month"] == "01" and row["day"] == "01"


def test_parse_invalid_dropped(spark):
    df = spark.createDataFrame([("not-a-date",)], ["BaseDateTime"])
    assert parse_base_datetime(df).count() == 0


def test_parse_mixed(spark):
    df = spark.createDataFrame(
        [("2024-01-01 10:00:00",), ("invalid-date",)], ["BaseDateTime"]
    )
    out = parse_base_datetime(df)
    assert out.count() == 1
    assert out.first()["year"] == "2024"


def test_parse_empty_and_null(spark):
    schema = T.StructType([T.StructField("BaseDateTime", T.StringType())])
    df = spark.createDataFrame([("",), (None,)], schema)
    assert parse_base_datetime(df).count() == 0


def test_parse_iso_t_and_millis_and_zulu(spark):
    df = spark.createDataFrame(
        [
            ("2024-03-05T06:07:08",),
            ("2024-03-05T06:07:08.123",),
            ("2024-03-05T06:07:08Z",),
            ("2024-03-05 06:07:08+00:00",),
        ],
        ["BaseDateTime"],
    )
    out = parse_base_datetime(df)
    assert out.count() == 4
    assert {r["day"] for r in out.collect()} == {"05"}


def _coalesce_parse(c):
    """The reference's P4 parse: try the three formats in order."""
    stripped = F.regexp_replace(F.regexp_replace(c, r"Z$", ""), r"[+-]\d{2}:\d{2}$", "")
    formats = ["yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss.SSS"]
    return F.coalesce(*[F.try_to_timestamp(stripped, F.lit(f)) for f in formats])


_TS_CORPUS = [
    # the synthesizer's five formats
    "2024-03-05 06:07:08", "2024-03-05T06:07:08", "2024-03-05T06:07:08.123",
    "2024-03-05T06:07:08Z", "2024-03-05 06:07:08+00:00",
    # fractions
    "2024-03-05T06:07:08.1", "2024-03-05T06:07:08.12", "2024-03-05T06:07:08.1234",
    "2024-03-05T06:07:08.", "2024-03-05T06:07:08.000", "2024-03-05T06:07:08.-12",
    # spaced millis, offsets, suffixes
    "2024-03-05 06:07:08.123", "2024-03-05 06:07:08.1", "2024-03-05T06:07:08+05:30",
    "2024-03-05T06:07:08+00:00Z", "2024-03-05T06:07:08.12Z", "2024-03-05 06:07:08-05:00",
    "2024-03-05T06:07:08.123+05:30", "2024-03-05 06:07:08Z", "2024-03-05T06:07:08z",
    "2024-03-05T06:07:08+0530", "2024-03-05t06:07:08", "2024-03-05t06:07:08.5",
    # years
    "12024-03-05 06:07:08", "+2024-03-05 06:07:08", "-2024-03-05 06:07:08",
    "-2024-03-05T06:07:08", "-2024-03-05T06:07:08.25", "0000-03-05 06:07:08",
    "0000-01-01T00:00:00.5", "-0000-01-01 00:00:00", "99999-01-01 00:00:00",
    # calendar and clock limits
    "2024-02-29 00:00:00", "2023-02-29 00:00:00", "2024-03-05 24:00:00",
    "2024-03-05 06:60:00", "2024-03-05 06:07:60", "2024-13-01 00:00:00", "2024-00-10 00:00:00",
    # one-digit fields, whitespace, non-ASCII digits, other shapes
    "2024-3-05 06:07:08", "2024-03-5 06:07:08", "2024-03-05 6:07:08", "2024-03-05 06:7:08",
    "2024-03-05 06:07:8", " 2024-03-05 06:07:08", "2024-03-05 06:07:08 ",
    "2024-03-05  06:07:08", "2024-03-05 06:07:08\n", "２０２４-03-05 06:07:08",
    "2024/03/05 06:07:08", "2024-03-05T06:07", "2024-03-05", "not-a-date", "",
]


def _fuzzed_timestamps(n: int, seed: int) -> list[str]:
    """Random valid-shaped timestamps (out-of-range fields included) and
    one-character edits of them."""
    rng = random.Random(seed)
    alphabet = "0123456789-:. TtZz+"
    out = []
    for _ in range(n):
        y, mo, d = rng.randint(0, 9999), rng.randint(0, 13), rng.randint(0, 32)
        h, mi, sec = rng.randint(0, 25), rng.randint(0, 61), rng.randint(0, 61)
        s = f"{y:04d}-{mo:02d}-{d:02d}{rng.choice(' Tt')}{h:02d}:{mi:02d}:{sec:02d}"
        s += rng.choice(["", "", f".{rng.randint(0, 9999)}", "Z", "+00:00", "-03:30"])
        i = rng.randrange(len(s))
        edit = rng.randrange(4)
        if edit == 1:
            s = s[:i] + s[i + 1 :]
        elif edit == 2:
            s = s[:i] + rng.choice(alphabet) + s[i:]
        elif edit == 3:
            s = s[:i] + rng.choice(alphabet) + s[i + 1 :]
        out.append(s)
    return out


def test_parse_dispatch_equals_three_format_coalesce(spark):
    """Differential test: the shape-dispatched parse gives the coalesce's
    timestamp (or NULL) on every string. Compared as unix_micros, because
    year 0 has no Python datetime."""
    corpus = _TS_CORPUS + [None] + _fuzzed_timestamps(6000, seed=15)
    df = spark.createDataFrame(list(enumerate(corpus)), "id int, BaseDateTime string")
    got = parse_base_datetime(df, drop_unparseable=False)
    got = dict(got.select("id", F.unix_micros("BaseDateTime")).collect())
    want = dict(df.select("id", F.unix_micros(_coalesce_parse(F.col("BaseDateTime")))).collect())
    diff = {corpus[i]: (got[i], want[i]) for i in want if got[i] != want[i]}
    assert not diff
    parsed = {s for i, s in enumerate(corpus) if want[i] is not None}
    assert len(parsed) > 1000
    assert {"2024-03-05T06:07:08.12", "0000-03-05 06:07:08", "2024-03-05t06:07:08"} <= parsed
    assert not {"2024-03-05 06:07:08.123", "12024-03-05 06:07:08", "+2024-03-05 06:07:08"} & parsed


# ---- P5 clean_coordinates (reference: test_clean_coordinates.py) ----

def test_clean_coordinates_split(spark):
    df = spark.createDataFrame(
        [(10.0, 20.0), (200.0, 30.0), (40.0, -300.0)], ["LAT", "LON"]
    )
    valid, invalid = clean_coordinates(df)
    assert valid.count() == 1
    r = valid.first()
    assert r["LAT"] == 10.0 and r["LON"] == 20.0
    assert invalid.count() == 2


def test_clean_coordinates_null_goes_to_quarantine(spark):
    schema = T.StructType(
        [T.StructField("LAT", T.DoubleType()), T.StructField("LON", T.DoubleType())]
    )
    df = spark.createDataFrame([(None, 10.0), (5.0, None), (1.0, 1.0)], schema)
    valid, invalid = clean_coordinates(df)
    assert valid.count() == 1
    assert invalid.count() == 2


def test_clean_coordinates_boundary_inclusive(spark):
    df = spark.createDataFrame(
        [(90.0, 180.0), (-90.0, -180.0), (90.0001, 0.0)], ["LAT", "LON"]
    )
    valid, invalid = clean_coordinates(df)
    assert valid.count() == 2
    assert invalid.count() == 1


# ---- P6 clamp (reference: test_clean_sog_cog_heading.py + NULL case) ----

def test_clamp_upper_bounds(spark):
    df = spark.createDataFrame([(150.0, 500.0, 900.0)], ["SOG", "COG", "Heading"])
    r = clean_sog_cog_heading(df).first()
    assert r["SOG"] == 100.0 and r["COG"] == 360.0 and r["Heading"] == 511.0


def test_clamp_preserves_null_and_negative(spark):
    schema = T.StructType(
        [
            T.StructField("SOG", T.DoubleType()),
            T.StructField("COG", T.DoubleType()),
            T.StructField("Heading", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame([(None, -5.0, None)], schema)
    r = clean_sog_cog_heading(df).first()
    # NULL must stay NULL (not become the cap), negatives pass through
    assert r["SOG"] is None
    assert r["COG"] == -5.0
    assert r["Heading"] is None


# ---- P1 normalize_columns (reference: test_normalize_columns.py) ----

def test_normalize_columns(spark):
    df = spark.createDataFrame([(1, 2.0, 3.0, "x")], ["mmsi", "latitude", "longitude", "vessel_name"])
    out = normalize_columns(df)
    assert set(out.columns) == {"MMSI", "LAT", "LON", "VesselName"}
    assert set(COLUMN_MAPPING.values()) >= {"MMSI", "LAT", "LON"}


def test_normalize_keeps_canonical_and_unknown(spark):
    df = spark.createDataFrame([(1, "z")], ["LAT", "unknown_col"])
    out = normalize_columns(df)
    assert out.columns == ["LAT", "unknown_col"]


# ---- P2 align_schema ----

def test_align_schema_add_drop_cast(spark):
    target = T.StructType(
        [
            T.StructField("MMSI", T.IntegerType()),
            T.StructField("LAT", T.DoubleType()),
            T.StructField("VesselName", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [("123", "4.5", "junk"), ("N/A", "abc", "junk")], ["MMSI", "LAT", "extra"]
    )
    out = align_schema(df, target)
    assert [f.name for f in out.schema.fields] == ["MMSI", "LAT", "VesselName"]
    assert dict((f.name, f.dataType) for f in out.schema.fields)["MMSI"] == T.IntegerType()
    # a malformed number is NULL (the reference ran with ANSI off), not a
    # CAST_INVALID_INPUT that aborts the whole drop
    assert [tuple(r) for r in out.collect()] == [(123, 4.5, None), (None, None, None)]


def test_conform_equals_three_step_composition(spark):
    from noaa_ais_glue_lakehouse_spark.schemas import AIS_RAW_SCHEMA

    df = spark.createDataFrame(
        [("1", "2024-01-01 00:00:00", "1.5", "", "x", "junk"), ("N/A", "", "abc", "v", "", None)],
        ["mmsi", "base_date_time", "latitude", "VesselName", "IMO", "Extra"],
    )
    want = replace_empty_with_null(align_schema(normalize_columns(df), AIS_RAW_SCHEMA))
    got = conform_raw_columns(df, AIS_RAW_SCHEMA)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    with pytest.raises(ValueError, match="both map to 'lat'"):
        conform_raw_columns(df.withColumn("LAT", F.lit("2.0")), AIS_RAW_SCHEMA)


# ---- P3 replace_empty_with_null ----

def test_replace_empty_with_null(spark):
    df = spark.createDataFrame([("", "keep", 0)], ["a", "b", "n"])
    r = replace_empty_with_null(df).first()
    assert r["a"] is None and r["b"] == "keep" and r["n"] == 0


# ---- P7 / P8 movement ----

def test_movement_flag(spark):
    schema = T.StructType([T.StructField("SOG", T.DoubleType())])
    df = spark.createDataFrame([(0.0,), (0.1,), (None,)], schema)
    rows = derive_movement_flag(df).collect()
    assert [r["MovementFlag"] for r in rows] == [0, 1, 0]


def test_movement_state(spark):
    df = spark.createDataFrame([(0.4,), (0.5,), (12.0,)], ["SOG"])
    rows = add_movement_state(df).collect()
    assert [r["movement_state"] for r in rows] == ["anchored", "moving", "moving"]


# ---- D1 dedup (reference: test_drop_duplicates.py) ----

def test_dedup_by_content_hash(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], ["id", "v"]
    )
    assert dedup_by_content_hash(df).count() == 2


def test_dedup_null_vs_empty_not_collided(spark):
    # the fixed fingerprint spec distinguishes NULL from ''
    schema = T.StructType([T.StructField("v", T.StringType())])
    df = spark.createDataFrame([(None,), ("",)], schema)
    assert dedup_by_content_hash(df).count() == 2


def _sha_dedup(df, cols):
    """The reference's D1: drop duplicate sha2(to_json(struct(cols))) keys."""
    return df.withColumn("_k", content_hash_sha256(cols)).dropDuplicates(["_k"]).drop("_k")


def _digest(df, cols):
    # string casts keep -0.0 apart from 0.0 (xxhash64 of a double does not)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols]).cast("decimal(20,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).first())


def test_dedup_equals_content_hash_recipe(spark):
    """Same groups as the sha2(to_json) key, including the corners where
    Spark's grouping and to_json differ by default (the sign of zero)."""
    nan = float("nan")
    ts = dt.datetime(2024, 1, 1, 10, 0, 0, 123000)
    rows = [
        (1, "a", 0.0, 0.0, ts), (1, "a", -0.0, 0.0, ts), (1, "a", 0.0, 0.0, ts),
        (1, "a", -0.0, 0.0, ts), (1, "a", 0.0, -0.0, ts), (1, "a", nan, 1.0, ts),
        (1, "a", nan, 1.0, ts), (1, None, 1.0, 1.0, ts), (1, "", 1.0, 1.0, ts),
        (1, "", 1.0, 1.0, None), (1, "", 1.0, 1.0, None), (2, "ü", 2.5, None, ts),
        (2, "ü", 2.5, None, ts), (2, "u\u0308", 2.5, None, ts), (2, "船", -2.5, None, ts),
        (None, None, None, None, None), (None, None, None, None, None),
    ]
    schema = "id int, s string, d double, f float, t timestamp"
    df = spark.createDataFrame(rows, schema).repartition(3)
    cols = df.columns
    assert _digest(dedup_by_content_hash(df), cols) == _digest(_sha_dedup(df, cols), cols)
    # plain grouping would merge the -0.0 rows into the 0.0 ones
    assert dedup_by_content_hash(df).count() == df.dropDuplicates().count() + 2
    subset = ["id", "d"]
    want = _digest(_sha_dedup(df, subset), subset)
    assert _digest(dedup_by_content_hash(df, subset), subset) == want


# ---- P13 safe_cast ----

def test_safe_cast_columns(spark):
    df = spark.createDataFrame([("1", "2.5")], ["a", "b"])
    out = safe_cast_columns(df, {"a": "int", "b": "double", "missing": "int"})
    types = dict((f.name, f.dataType.simpleString()) for f in out.schema.fields)
    assert types == {"a": "int", "b": "double"}
