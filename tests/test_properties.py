"""Property-based tests (hypothesis) for the highest-risk kernels:
sessionization invariants, geohash vs a reference bisection encoder,
haversine metric properties, winnowing guarantees.

One shared Spark job per example would be slow; instead each property
generates a batch of cases and runs them through ONE DataFrame per
property (hypothesis drives the data, Spark evaluates vectorized).
"""

from __future__ import annotations

import datetime as dt
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.spatial import geohash_expr, haversine_km
from noaa_ais_glue_lakehouse_spark.operators.sessionize import sessionize


def _ref_geohash(lat: float, lon: float, precision: int) -> str:
    """Canonical bisection encoder (independent reference implementation)."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    latr, lonr = [-90.0, 90.0], [-180.0, 180.0]
    out, bit, ch, even = "", 0, 0, True
    while len(out) < precision:
        r, x = (lonr, lon) if even else (latr, lat)
        mid = (r[0] + r[1]) / 2
        if x >= mid:
            ch = (ch << 1) | 1
            r[0] = mid
        else:
            ch = ch << 1
            r[1] = mid
        even = not even
        bit += 1
        if bit == 5:
            out += b32[ch]
            bit, ch = 0, 0
    return out


# Coordinates rounded to 6 decimals — the AIS data contract (~0.1 m).
# Unrounded floats let hypothesis find denormals like -1e-308 where the
# quantizer's (x+180) addition absorbs the value while exact bisection
# keeps its sign — below any physical coordinate's resolution, accepted
# as out of contract.
coords = st.tuples(
    st.floats(min_value=-89.999, max_value=89.999, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
    st.floats(min_value=-179.999, max_value=179.999, allow_nan=False).map(
        lambda x: round(x, 6)
    ),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(coords, min_size=1, max_size=20))
def test_geohash_matches_bisection_encoder(spark, pts):
    # even AND odd precisions — odd lengths give lon the extra bit
    # (asymmetric split), the branch the quantizer must get right
    df = spark.createDataFrame(pts, ["lat", "lon"])
    for precision in (5, 6, 7):
        got = [
            r[0]
            for r in df.select(
                geohash_expr(F.col("lat"), F.col("lon"), precision)
            ).collect()
        ]
        want = [_ref_geohash(lat, lon, precision) for lat, lon in pts]
        assert got == want, f"precision {precision}"


@settings(max_examples=10, deadline=None)
@given(st.lists(st.tuples(coords, coords), min_size=1, max_size=20))
def test_haversine_metric_properties(spark, pairs):
    rows = [(a[0], a[1], b[0], b[1]) for a, b in pairs]
    df = spark.createDataFrame(rows, ["lat1", "lon1", "lat2", "lon2"])
    out = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("d"),
        haversine_km(F.col("lat2"), F.col("lon2"), F.col("lat1"), F.col("lon1")).alias("rev"),
    ).collect()
    for r, (a, b) in zip(out, pairs):
        assert r["d"] >= 0.0
        assert r["d"] <= 20015.1  # half circumference bound
        assert abs(r["d"] - r["rev"]) < 1e-9  # symmetry
        if a == b:
            assert r["d"] < 1e-9


_doc_text = st.text(
    alphabet="abcdefgh ", min_size=0, max_size=60
)


@settings(max_examples=8, deadline=None)
@given(_doc_text, _doc_text, st.text(alphabet="xyzw", min_size=11, max_size=25))
def test_winnowing_guarantee(spark, prefix, suffix, planted):
    """Winnowing's defining guarantee: two documents sharing a substring of
    length ≥ k + w - 1 (= 11 for k=8, w=4) share at least one fingerprint."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_fingerprint_index,
    )

    df = spark.createDataFrame(
        [(1, prefix + planted + suffix), (2, "QQ " + planted + " PP")],
        ["doc_id", "text"],
    )
    idx = winnow_fingerprint_index(df, "doc_id", "text", 8, 4)
    fps = {1: set(), 2: set()}
    for r in idx.collect():
        fps[r["doc_id"]].add(r["fingerprint"])
    assert fps[1] & fps[2], (prefix, planted, suffix)


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=100_000),  # offsets in seconds
        min_size=1,
        max_size=30,
    )
)
def test_sessionize_invariants(spark, offsets):
    """Session ids start at 0, are non-decreasing in time, and increment
    exactly where a strict >gap occurs."""
    base = dt.datetime(2024, 1, 1)
    ts = sorted(base + dt.timedelta(seconds=o) for o in offsets)
    df = spark.createDataFrame([("e", t) for t in ts], ["mmsi", "ts"])
    gap = 600.0
    out = (
        sessionize(df, "mmsi", "ts", gap_seconds=gap)
        .orderBy("ts")
        .collect()
    )
    sids = [r["session_id"] for r in out]
    times = [r["ts"] for r in out]
    assert sids[0] == 0
    for i in range(1, len(sids)):
        expected_inc = 1 if (times[i] - times[i - 1]).total_seconds() > gap else 0
        assert sids[i] - sids[i - 1] == expected_inc, (i, times, sids)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=40),
        min_size=2,
        max_size=14,
    ),
    st.sampled_from([0.5, 0.7, 0.8]),
)
def test_prefix_filter_jaccard_equals_brute_force(spark, texts, threshold):
    """AllPairs prefix filter ≡ O(n²) brute force on arbitrary text —
    including empty docs, duplicate docs and tiny two-letter vocabularies
    where prefixes collapse to one token and every posting list is hot."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        jaccard_pairs_exact,
        jaccard_pairs_prefix_filter,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    exact = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs_exact(df, "doc_id", "text", threshold).collect()
    }
    fast = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_pairs_prefix_filter(
            df, "doc_id", "text", threshold
        ).collect()
    }
    assert fast == exact


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(-5, 5)),
        min_size=1,
        max_size=60,
    )
)
def test_global_running_sum_property(spark, rows):
    """Parallel prefix scan ≡ sequential cumsum under the same total
    order, for arbitrary keys/values; the fixture session's 4 shuffle
    partitions force multi-bucket offsets."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    data = [(k, v, i) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["k", "v", "rid"])
    got = {
        (r["k"], r["rid"]): r["c"]
        for r in global_running_sum(df, ["k", "rid"], "v", out_col="c").collect()
    }
    acc = 0
    for k, v, rid in sorted(data, key=lambda t: (t[0], t[2])):
        acc += v
        assert got[(k, rid)] == acc


# ---------------------------------------------------------------------------
# Round-4 operators: interval-union coverage, Spearman, exact percentiles
# ---------------------------------------------------------------------------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),      # user
            st.integers(min_value=0, max_value=10_000), # start us
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=25, deadline=None)
def test_interval_union_matches_brute_force(spark, ivs):
    """q289's island-merge coverage == brute-force union of [s, s+300)
    per user, on arbitrary (possibly heavily overlapping) starts."""
    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries
    import datetime as _dt

    rows = [
        (i, _dt.datetime(2024, 1, 1) + _dt.timedelta(microseconds=s * 1000), u,
         "t", 0.0, "{}")
        for i, (u, s) in enumerate(ivs)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix="prop_iv_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["user_id"]: r["covered_us"]
        for r in queries()["q289_interval_union_coverage"](spark, d).collect()
    }
    # brute force: merge intervals per user in python
    from collections import defaultdict
    per = defaultdict(list)
    for u, s in ivs:
        us = s * 1000
        per[u].append((us, us + 300_000_000))
    for u, spans in per.items():
        spans.sort()
        total, cs, ce = 0, None, None
        for s0, e0 in spans:
            if cs is None:
                cs, ce = s0, e0
            elif s0 > ce:
                total += ce - cs
                cs, ce = s0, e0
            else:
                ce = max(ce, e0)
        total += ce - cs
        assert got[u] == total, (u, got[u], total)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=-100, max_value=100),
        ),
        min_size=3,
        max_size=40,
    )
)
@settings(max_examples=25, deadline=None)
def test_spearman_matches_pure_python(spark, pts):
    """q287's doubled-average-rank Spearman == a pure-python
    tie-corrected implementation (Pearson of fractional average ranks),
    including heavy-tie inputs."""
    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries
    import datetime as _dt

    rows = [
        (i, _dt.datetime(2024, 1, 1) + _dt.timedelta(seconds=t), 1, "t",
         float(v), "{}")
        for i, (t, v) in enumerate(pts)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile
    d = tempfile.mkdtemp(prefix="prop_sp_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = queries()["q287_spearman_correlation"](spark, d).collect()
    assert len(out) == 1
    got = out[0]["spearman_rho"]

    def avg_ranks(xs):
        order = sorted(range(len(xs)), key=lambda i: xs[i])
        ranks = [0.0] * len(xs)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
                j += 1
            r = (i + j) / 2 + 1
            for k in range(i, j + 1):
                ranks[order[k]] = r
            i = j + 1
        return ranks

    ts = [t for t, _ in pts]
    vs = [v for _, v in pts]
    rx, ry = avg_ranks(ts), avg_ranks(vs)
    n = len(pts)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(x * x for x in rx)
    syy = sum(y * y for y in ry)
    sxy = sum(x * y for x, y in zip(rx, ry))
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    if dx <= 0 or dy <= 0:
        assert got is None  # constant column: rho undefined (NULL)
        return
    ref = (n * sxy - sx * sy) / math.sqrt(dx) / math.sqrt(dy)
    assert got is not None and abs(got - ref) < 1e-4, (got, ref)


@given(
    st.lists(st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=80)
)
@settings(max_examples=25, deadline=None)
def test_exact_percentiles_nearest_rank(spark, vals):
    """q304's prefix-scan percentile pick == the nearest-rank definition
    computed directly on the sorted values."""
    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries
    import datetime as _dt

    rows = [
        (i, _dt.datetime(2024, 1, 1), 1, "t", v / 100.0, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    import tempfile
    d = tempfile.mkdtemp(prefix="prop_pc_")
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        r["p"]: r["value_cents"]
        for r in queries()["q304_exact_global_percentiles"](spark, d).collect()
    }
    cents = sorted(round(v / 100.0 * 100) for v in vals)
    n = len(cents)
    for p in (50, 90, 99):
        ref = cents[math.ceil(p * n / 100) - 1]
        assert got[p] == ref, (p, got[p], ref)
