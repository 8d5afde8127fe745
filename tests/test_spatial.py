"""Spatial kernels: haversine known distances, geohash known encodings
(the reference's single UDF, here a native expression —
``utils/common_functions_curated.py:164-185,283-317``), grid cells.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.spatial import (
    geohash_expr,
    grid_cell,
    haversine_km,
)

# (lat1, lon1, lat2, lon2, expected_km, tol)
_HAVERSINE_CASES = [
    (0.0, 0.0, 0.0, 0.0, 0.0, 1e-9),
    # 1 degree of longitude at the equator ≈ 111.19 km (R=6371)
    (0.0, 0.0, 0.0, 1.0, 111.1949, 0.01),
    # Baltimore harbor -> Annapolis, ~26 km
    (39.2904, -76.6122, 38.9784, -76.4922, 36.3, 1.0),
    # antipodal-ish: half circumference ≈ pi*R
    (0.0, 0.0, 0.0, 180.0, 20015.1, 0.5),
]

# known geohash encodings (standard public test vectors)
_GEOHASH_CASES = [
    # Baltimore harbor; verified against the canonical bisection encoder
    # (SURVEY §5's "dqcrt…" note was itself wrong — bisection gives dqcx16)
    (39.2117, -76.5814, "dqcx16"),
    (57.64911, 10.40744, "u4pruy"),  # classic wikipedia vector (u4pruydqqvj)
    (0.0, 0.0, "s00000"),
    (-25.382708, -49.265506, "6gkzwg"),
]


def test_haversine_known_distances(spark):
    df = spark.createDataFrame(
        [(a, b, c, d) for a, b, c, d, _, _ in _HAVERSINE_CASES],
        ["lat1", "lon1", "lat2", "lon2"],
    )
    got = df.select(
        haversine_km(F.col("lat1"), F.col("lon1"), F.col("lat2"), F.col("lon2")).alias("km")
    ).collect()
    for row, (_, _, _, _, want, tol) in zip(got, _HAVERSINE_CASES):
        assert abs(row["km"] - want) <= tol, (row["km"], want)


def test_haversine_symmetric(spark):
    df = spark.createDataFrame([(10.0, 20.0, -5.0, 140.0)], ["a", "b", "c", "d"])
    r = df.select(
        haversine_km(F.col("a"), F.col("b"), F.col("c"), F.col("d")).alias("x"),
        haversine_km(F.col("c"), F.col("d"), F.col("a"), F.col("b")).alias("y"),
    ).first()
    assert abs(r["x"] - r["y"]) < 1e-9


def test_geohash_known_encodings(spark):
    df = spark.createDataFrame(
        [(lat, lon) for lat, lon, _ in _GEOHASH_CASES], ["lat", "lon"]
    )
    got = df.select(geohash_expr(F.col("lat"), F.col("lon"), 6).alias("gh")).collect()
    for row, (_, _, want) in zip(got, _GEOHASH_CASES):
        assert row["gh"] == want, (row["gh"], want)


def test_geohash_precision_prefix_property(spark):
    # a precision-4 geohash must be the prefix of the precision-6 one
    df = spark.createDataFrame([(39.2117, -76.5814)], ["lat", "lon"])
    r = df.select(
        geohash_expr(F.col("lat"), F.col("lon"), 4).alias("g4"),
        geohash_expr(F.col("lat"), F.col("lon"), 6).alias("g6"),
    ).first()
    assert r["g6"].startswith(r["g4"])


def _bisection_geohash(lat, lon, precision):
    """The public bisection encoder: alternate lon/lat halvings, a 1 bit
    when the value is at or above the midpoint, 5 bits per character."""
    if lat is None or lon is None:
        return None
    lat_rng, lon_rng = [-90.0, 90.0], [-180.0, 180.0]
    bits = []
    while len(bits) < 5 * precision:
        rng, v = (lon_rng, lon) if len(bits) % 2 == 0 else (lat_rng, lat)
        mid = (rng[0] + rng[1]) / 2
        bits.append(int(v >= mid))
        rng[1 - bits[-1]] = mid
    return "".join(
        "0123456789bcdefghjkmnpqrstuvwxyz"[int("".join(map(str, bits[i : i + 5])), 2)]
        for i in range(0, len(bits), 5)
    )


def test_geohash_matches_bisection_encoder(spark):
    """geohash_expr == the pure-Python bisection encoder at every
    precision, on random points, the poles/antimeridian and NULL."""
    import random

    rng = random.Random(11)
    pts = [(rng.uniform(-90, 90), rng.uniform(-180, 180)) for _ in range(2000)]
    pts += [(lat, lon) for lat in (-90.0, 0.0, 90.0) for lon in (-180.0, 0.0, 180.0)]
    pts += [(45.0, -90.0), (None, 10.0), (10.0, None)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    precisions = range(1, 13)
    rows = df.select(
        "lat", "lon", *[geohash_expr(F.col("lat"), F.col("lon"), p).alias(f"g{p}") for p in precisions]
    ).collect()
    assert len(rows) == len(pts)
    for r in rows:
        for p in precisions:
            assert r[f"g{p}"] == _bisection_geohash(r["lat"], r["lon"], p), (r["lat"], r["lon"], p)


def test_geohash_expression_tree_stays_small(spark):
    """The interleave is log2(bits) shift-or-mask steps, not one term per
    bit: the analysed precision-6 expression prints about a thousand tree
    lines (the per-bit form with per-character literal arrays printed
    3,854; at precision 12, 14,906) and precision 12 about twice that."""
    df = spark.createDataFrame([(1.0, 2.0)], "lat double, lon double")

    def tree_lines(p):
        plan = df.select(geohash_expr(F.col("lat"), F.col("lon"), p))._jdf.queryExecution().analyzed()
        return len(plan.expressions().head().treeString().splitlines())

    assert tree_lines(6) < 1200
    assert tree_lines(12) < 2400


def test_grid_cell(spark):
    df = spark.createDataFrame([(39.27,), (-0.01,)], ["lat"])
    got = [r[0] for r in df.select(grid_cell(F.col("lat"), 0.5)).collect()]
    assert got == [78, -1]


def test_morton_key_matches_reference(spark):
    """morton_key == independent bit-interleave reference, and preserves
    2-D locality ordering on a quantized grid."""
    from hypothesis import given, settings, strategies as st

    from noaa_ais_glue_lakehouse_spark.functions.spatial import morton_key

    def ref_morton(x, y, bits):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    import random

    rng = random.Random(7)
    cases = [(rng.randrange(1 << 16), rng.randrange(1 << 16)) for _ in range(200)]
    cases += [(0, 0), (65535, 65535), (1, 0), (0, 1)]
    df = spark.createDataFrame(cases, "x long, y long")
    got = {
        (r["x"], r["y"]): r["m"]
        for r in df.select("x", "y", morton_key(F.col("x"), F.col("y"), 16).alias("m")).collect()
    }
    for (x, y), m in got.items():
        assert m == ref_morton(x, y, 16), (x, y)

    # masking: values beyond `bits` are truncated, not corrupted
    df2 = spark.createDataFrame([(1 << 20, 3)], "x long, y long")
    m2 = df2.select(morton_key(F.col("x"), F.col("y"), 8).alias("m")).first()["m"]
    assert m2 == ref_morton((1 << 20) & 255, 3, 8)

    # every width the spread steps handle, up to the 31-bit maximum
    wide = [(rng.randrange(1 << 31), rng.randrange(1 << 31)) for _ in range(50)]
    wdf = spark.createDataFrame(wide + [(-1, (1 << 31) - 1)], "x long, y long")
    for bits in (1, 2, 3, 5, 15, 17, 31):
        for r in wdf.select("x", "y", morton_key(F.col("x"), F.col("y"), bits).alias("m")).collect():
            mask = (1 << bits) - 1
            assert r["m"] == ref_morton(r["x"] & mask, r["y"] & mask, bits), (bits, r["x"], r["y"])


def test_morton_sort_clusters_neighbors(spark):
    """Rows sorted by morton key keep small 2-D neighborhoods contiguous:
    the max morton-rank spread within any 4x4 block is far below a
    row-major layout's spread."""
    from noaa_ais_glue_lakehouse_spark.functions.spatial import morton_key

    n = 64
    rows = [(x, y) for x in range(n) for y in range(n)]
    df = spark.createDataFrame(rows, "x long, y long")
    ranked = (
        df.select("x", "y", morton_key(F.col("x"), F.col("y"), 6).alias("m"))
        .orderBy("m")
        .collect()
    )
    rank = {(r["x"], r["y"]): i for i, r in enumerate(ranked)}
    worst = 0
    for bx in range(0, n, 4):
        for by in range(0, n, 4):
            rs = [rank[(bx + i, by + j)] for i in range(4) for j in range(4)]
            worst = max(worst, max(rs) - min(rs))
    # any 4x4 block spans at most a few z-curve cells; row-major would
    # span ~4 full rows = 4*64 ranks at best per block edge
    assert worst < 1024
    assert worst < 4 * n * 3  # strictly tighter than generic row-major spread
