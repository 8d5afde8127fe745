"""Pins for the round-3 timeseries/reshaping queries (q77-q84): forward
fill, grid resample, native session_window equivalence, and the n-gram
helper the curation signals (q82/q83) build on.

The oracle gate already value-hashes these against DuckDB; the tests here
pin the *semantic corners* the oracle data may not exercise (all-null
prefixes, boundary gaps, short docs).
"""

from __future__ import annotations

import datetime

from pyspark.sql import Window
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators.sessionize import sessionize
from noaa_ais_glue_lakehouse_spark.plans.catalog import _word_ngrams


def _ts(minute: int) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, 0, minute)


def test_forward_fill_null_prefix_stays_null(spark):
    """Rows before the first non-null observation must stay NULL (no
    backfill), and fills must not leak across entities."""
    df = spark.createDataFrame(
        [
            (1, _ts(0), None),
            (1, _ts(1), 10.0),
            (1, _ts(2), None),
            (2, _ts(0), None),
        ],
        "user_id int, ts timestamp, value double",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = {
        (r["user_id"], r["ts"].minute): r["filled"]
        for r in df.select(
            "user_id", "ts", F.last("value", ignorenulls=True).over(w).alias("filled")
        ).collect()
    }
    assert out[(1, 0)] is None
    assert out[(1, 1)] == 10.0
    assert out[(1, 2)] == 10.0
    assert out[(2, 0)] is None  # entity 2 never sees entity 1's values


def test_native_session_window_matches_sessionize(spark):
    """Spark's built-in session_window and our prefix-sum sessionize agree
    on session count and sizes — including the exact-boundary case: an
    event exactly gap seconds after the previous MERGES (break is strictly
    `gap > threshold`, empirically pinned here; q84's oracle encodes the
    same strict inequality)."""
    gap = 60.0
    rows = [
        (1, _ts(0)),
        (1, _ts(1)),   # exactly 60s after previous => still SAME session
        (1, _ts(30)),
        (2, _ts(5)),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    native = (
        df.groupBy("user_id", F.session_window("ts", "60 seconds"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "user_id", F.col("session_window.start").alias("start"), "n"
        )
    )
    ours = (
        sessionize(df, entity_col="user_id", ts_col="ts", gap_seconds=gap)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("start"), F.count(F.lit(1)).alias("n"))
        .select("user_id", "start", "n")
    )
    n_rows = sorted((r["user_id"], r["start"], r["n"]) for r in native.collect())
    o_rows = sorted((r["user_id"], r["start"], r["n"]) for r in ours.collect())
    assert n_rows == o_rows
    # (1,@0..1) merged at the exact boundary, (1,@30) split, (2,@5)
    assert len(n_rows) == 3
    assert n_rows[0][2] == 2  # the boundary event joined session 1


def test_word_ngrams_short_and_exact_length(spark):
    """Docs shorter than n yield an empty array; length == n yields one."""
    df = spark.createDataFrame(
        [("a b c",), ("a b c d e",), ("",)], "text string"
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    toks = F.filter(toks, lambda t: t != "")
    out = [r[0] for r in df.select(_word_ngrams(toks, 5).alias("g")).collect()]
    assert out[0] == []
    assert out[1] == ["a b c d e"]
    assert out[2] == []


def test_grid_resample_covers_empty_hours(spark):
    """An entity with a 3-hour span and events only in hours 0 and 2 must
    get an hour-1 grid row with n_events=0 and the forward-filled value."""
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 0, 15), 5.0),
            (1, datetime.datetime(2024, 1, 1, 2, 45), 7.0),
        ],
        "user_id int, ts timestamp, value double",
    )
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = df.groupBy("user_id", hour.alias("hour_ts")).agg(
        F.count(F.lit(1)).alias("n_events"), F.max("value").alias("last_value")
    )
    spans = df.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = spans.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        grid.join(hourly, ["user_id", "hour_ts"], "left")
        .select(
            F.hour("hour_ts").alias("h"),
            F.coalesce("n_events", F.lit(0)).alias("n"),
            F.last("last_value", ignorenulls=True).over(w).alias("filled"),
        )
        .collect()
    )
    by_hour = {r["h"]: (r["n"], r["filled"]) for r in out}
    assert by_hour == {0: (1, 5.0), 1: (0, 5.0), 2: (1, 7.0)}


def test_sax_words_hand_computed(spark):
    """q350 on a constructed series: 12 days in 6 two-day segments with
    daily cents [0,0,10,10,20,20,30,30,40,40,100,100].
    s=400, ssq=26000, var_num=12*26000-400^2=152000;
    z_seg=(12*seg_s-800)/(2*sqrt(152000)) => [-1.03,-0.72,-0.41,-0.10,
    +0.21,+2.05] => 'aabbcd'. A constant user must map to all-'c'."""
    import datetime as dt
    import os
    import tempfile

    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    rows = []
    daily = [0, 0, 10, 10, 20, 20, 30, 30, 40, 40, 100, 100]
    for i, c in enumerate(daily):
        rows.append((1, dt.datetime(2024, 3, 1 + i, 12, 0), c / 100.0))
    for i in range(6):  # zero-variance user
        rows.append((2, dt.datetime(2024, 3, 1 + i, 12, 0), 5.0))
    rows.append((3, dt.datetime(2024, 3, 1, 12, 0), 1.0))  # <6 days: dropped
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["user_id", "ts", "value"]).coalesce(
            1
        ).write.parquet(os.path.join(d, "events.parquet"))
        out = {
            r["sax_word"]: (r["n_users"], r["example_user"])
            for r in queries()["q350_sax_words"](spark, d).collect()
        }
    assert out == {"aabbcd": (1, 1), "cccccc": (1, 2)}


def test_dtw6_unrolled_matches_reference_dp(spark, tmp_path):
    """q386's 36-alias unrolled DTW must equal a plain Python DP on the
    same 6-segment profiles, including the warp case: day B is day A
    time-shifted one segment, so DTW << L1."""
    import datetime

    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    # user 1: day1 profile [10,0,0,0,0,0] cents*? build via single events
    # in the right 4h buckets; day2 = shifted [0,10,0,0,0,0]
    rows = []
    eid = 0

    def ev(day, hour, val, uid=1):
        nonlocal eid
        rows.append(
            (eid, uid, datetime.datetime(2024, 1, day, hour, 0, 0), "t",
             float(val))
        )
        eid += 1

    ev(1, 0, 10.0)   # day1 seg0 = 1000 cents
    ev(2, 4, 10.0)   # day2 seg1 = 1000 cents (pure shift)
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, ["event_id", "user_id", "ts", "event_type", "value"]
    ).write.parquet(f"{d}/events.parquet")
    out = queries()["q386_dtw_day_profile_portable"](spark, d).collect()
    assert len(out) == 1
    r = out[0]

    def dtw(a, b):
        import math
        D = [[math.inf] * 7 for _ in range(7)]
        for i in range(1, 7):
            for j in range(1, 7):
                c = abs(a[i - 1] - b[j - 1])
                best = min(
                    D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
                ) if (i, j) != (1, 1) else 0
                D[i][j] = c + (0 if (i, j) == (1, 1) else best)
        return D[6][6]

    a = [1000, 0, 0, 0, 0, 0]
    b = [0, 1000, 0, 0, 0, 0]
    assert r["dtw_cost_cents"] == dtw(a, b)
    assert r["l1_cost_cents"] == 2000
    assert r["warp_gain_cents"] == r["l1_cost_cents"] - r["dtw_cost_cents"]
    # the shift is mostly absorbed by warping
    assert r["dtw_cost_cents"] < r["l1_cost_cents"]
