"""Empty-input robustness: every custom operator must return an EMPTY
result with the right schema — never crash — when a partition, day
window, or filtered subset yields zero rows. At scale, empty inputs are
routine (empty partitions, quiet entities, first-day runs), and an
operator that throws on them kills the whole job.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators.asof import asof_join
from noaa_ais_glue_lakehouse_spark.operators.dedup import (
    connected_components,
    dedup_exact,
    minhash_near_duplicates,
)
from noaa_ais_glue_lakehouse_spark.operators.sessionize import sessionize
from noaa_ais_glue_lakehouse_spark.operators.skew import salted_join


def _empty_events(spark):
    return spark.createDataFrame(
        [], "user_id bigint, event_id bigint, ts timestamp, value double"
    )


def test_sessionize_empty(spark):
    out = sessionize(_empty_events(spark), "user_id", "ts", 1800.0)
    assert out.count() == 0
    assert "session_id" in out.columns


def test_asof_empty_probe_and_empty_ref(spark):
    ev = _empty_events(spark)
    ref = spark.createDataFrame([(1, None, 1.0)], "user_id bigint, ts timestamp, v double")
    # empty probe → empty output, schema intact
    out = asof_join(ev.select("user_id", "event_id", "ts"), ref, "user_id", "ts", ["v"])
    assert out.count() == 0 and "asof_v" in out.columns
    # empty reference → all-null asof values, probes preserved
    probe = spark.createDataFrame(
        [(1, 10, None)], "user_id bigint, event_id bigint, ts timestamp"
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    out2 = asof_join(
        probe,
        ref.where(F.lit(False)),
        "user_id",
        "ts",
        ["v"],
        direction="forward",
    )
    rows = out2.collect()
    assert len(rows) == 1 and rows[0]["asof_v"] is None


def test_dedup_exact_empty(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    assert dedup_exact(df, ["text"], "doc_id").count() == 0


def test_minhash_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id bigint, text string")
    assert (
        minhash_near_duplicates(df, "doc_id", "text", threshold=0.8).count() == 0
    )


def test_connected_components_empty_edges(spark):
    pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
    assert connected_components(pairs).count() == 0


def test_salted_join_empty_sides(spark):
    left = spark.createDataFrame([], "k bigint, x double")
    right = spark.createDataFrame([(1, 2.0)], "k bigint, y double")
    assert salted_join(left, right, ["k"]).count() == 0
    assert (
        salted_join(right, left.withColumnRenamed("x", "y2"), ["k"], how="left").count()
        == 1
    )


def test_merge_upsert_empty_sides(spark):
    from noaa_ais_glue_lakehouse_spark.operators.state import merge_upsert

    t = spark.createDataFrame([(1, "a")], "k bigint, v string")
    empty = spark.createDataFrame([], "k bigint, v string")
    # empty source: target unchanged
    assert merge_upsert(t, empty, ["k"]).collect() == t.collect()
    # empty target: pure insert
    assert merge_upsert(empty, t, ["k"]).collect() == t.collect()
    # both empty
    assert merge_upsert(empty, empty, ["k"]).count() == 0


def test_apply_cdc_empty_changelog(spark):
    from noaa_ais_glue_lakehouse_spark.operators.state import apply_cdc

    snap = spark.createDataFrame([(1, "init", 0)], "k bigint, status string, v bigint")
    empty = spark.createDataFrame(
        [], "k bigint, seq bigint, op string, status string, v bigint"
    )
    assert apply_cdc(snap, empty, ["k"], ["seq"], "op").collect() == snap.collect()


def test_mixture_sample_empty_and_missing_class(spark):
    from noaa_ais_glue_lakehouse_spark.operators.training import (
        mixture_sample_to_budget,
    )

    empty = spark.createDataFrame([], "doc_id bigint, lang string, n bigint")
    assert (
        mixture_sample_to_budget(empty, "doc_id", "lang", "n", {"en": 10}, 5).count()
        == 0
    )
    # a class absent from budgets uses the default budget
    df = spark.createDataFrame([(1, "xx", 3), (2, "xx", 3)], "doc_id bigint, lang string, n bigint")
    got = mixture_sample_to_budget(df, "doc_id", "lang", "n", {"en": 100}, 4)
    assert got.count() == 2  # 3 < 4 for both preceding sums (0 and 3)


def test_prefix_filter_empty_and_all_empty_docs(spark):
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert jaccard_pairs_prefix_filter(empty, "doc_id", "text", 0.8).count() == 0
    blank = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    assert jaccard_pairs_prefix_filter(blank, "doc_id", "text", 0.8).count() == 0


def test_global_running_sum_empty(spark):
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    empty = spark.createDataFrame([], "t bigint, v bigint")
    assert global_running_sum(empty, ["t"], "v").count() == 0


def test_pagerank_empty_edges(spark):
    from noaa_ais_glue_lakehouse_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src string, dst string, w double")
    # no nodes at all -> empty rank vector (division by |V| never runs
    # because the loop body operates on empty frames)
    assert pagerank(empty, "src", "dst", "w", iterations=2).count() == 0


def test_bloom_and_count_min_empty(spark):
    """Bloom/CM sketches on zero rows: empty bit set, every probe
    bloom-negative, estimates 0 — never a crash (a quiet partition is
    routine)."""
    from noaa_ais_glue_lakehouse_spark.operators.sketches import (
        bloom_bit_positions,
        bloom_probe,
        count_min_cells,
        count_min_estimate,
    )

    empty = spark.createDataFrame([], "k bigint")
    bits = bloom_bit_positions(empty, "k", 1024, 3)
    assert bits.count() == 0
    probe = spark.createDataFrame([(7,)], "k bigint")
    out = bloom_probe(probe, "k", bits, 1024, 3).collect()
    assert len(out) == 1 and out[0]["bloom_pass"] is False

    cells = count_min_cells(empty, "k", 2, 64)
    assert cells.count() == 0
    est = count_min_estimate(probe, "k", cells, 2, 64).collect()
    assert est[0]["est_count"] == 0


def test_video_metadata_empty_and_null_payload(spark):
    """decode_video_metadata: zero rows → empty with schema; NULL
    payload → parse_ok=false row, nothing fabricated."""
    from noaa_ais_glue_lakehouse_spark.operators.multimodal import (
        decode_video_metadata,
    )

    empty = spark.createDataFrame([], "vid bigint, payload binary")
    out = decode_video_metadata(empty, "vid", "payload")
    assert out.count() == 0 and "duration_ms" in out.columns

    nulls = spark.createDataFrame([(1, None)], "vid bigint, payload binary")
    r = decode_video_metadata(nulls, "vid", "payload").collect()[0]
    assert r["parse_ok"] is False and r["width"] is None
