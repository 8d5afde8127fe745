"""Calibration, effect sizes, CIs, privacy audits, robust estimators (hypothesis tests live in stats_tests.py).

Moved verbatim from the single-file catalog in the round-8 package
split; see _shared for the helpers and _registry for the decorator.
"""

from noaa_ais_glue_lakehouse_spark.plans.catalog._registry import (  # noqa: F401
    get_query,
    register,
)
from noaa_ais_glue_lakehouse_spark.plans.catalog._shared import *  # noqa: F401,F403


@register(
    "q10_gap_stats",
    oracle="""
    WITH lagged AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST((2 * SUM(gap_us) + COUNT(gap_us)) // (2 * COUNT(gap_us)) AS BIGINT)
             AS avg_gap_us,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM lagged GROUP BY user_id
    """,
)
def q10_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 corpus shape — LAG window + gap statistics (W1/W2).

    The average is EXACT half-up integer microseconds:
    ``(2·sum + n) // (2·n)`` in pure BIGINT arithmetic. The earlier
    ``round(sum/n/1e6, 6)`` double form hash-diverged between engines at
    sf0.1 (one group's quotient landed in the ULP region where Spark's
    BigDecimal HALF_UP and the oracle's float rounding disagree) —
    integer division cannot.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    lagged = ev.withColumn("gap_us", gap)
    g = lagged.groupBy("user_id").agg(
        F.count("gap_us").alias("_n"),
        F.sum("gap_us").alias("_s"),
        F.min("gap_us").cast("long").alias("min_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )
    return g.select(
        "user_id",
        F.col("_n").cast("long").alias("n_gaps"),
        # `div` is true integer division (long / on longs is double division
        # and its floor can be off by one ULP)
        F.expr("(2 * _s + _n) div (2 * _n)").cast("long").alias("avg_gap_us"),
        "min_gap_us",
        "max_gap_us",
    )


# ---------------------------------------------------------------------------
# Sessionization core (W1-W4) and the voyage-summary rollup (A1/A2/A4, T5)
# ---------------------------------------------------------------------------


@register(
    "q37_summary_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events GROUP BY event_type
    """,
)
def q37_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — count / countDistinct / conditional-count summary stats."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.when(F.col("value") > 400, 1).otherwise(0)).cast("long").alias(
            "n_outliers"
        ),
    )


# ---------------------------------------------------------------------------
# Geohash (P11), dims (P14/D2/J1), SQL consumption layer (S10/W9/O4),
# multimodal columns — round-2 coverage additions
# ---------------------------------------------------------------------------



@register(
    "q42_sql_gap_stats",
    oracle="""
    WITH lagged AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)) AS gap_us
      FROM events
    )
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us
    FROM lagged GROUP BY user_id
    """,
)
def q42_sql_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 + W9/Q12 corpus — the LAG-gap analysis as pure SQL text
    (reference ``docs/09-qa-curated-data.md:278-307``)."""
    _register_views(spark, sf_dir, ["events"])
    return spark.sql(
        """
        WITH lagged AS (
          SELECT user_id,
                 unix_micros(ts) - unix_micros(LAG(ts) OVER (PARTITION BY user_id
                                                             ORDER BY ts, event_id)) AS gap_us
          FROM events
        )
        SELECT user_id,
               CAST(COUNT(gap_us) AS LONG) AS n_gaps,
               CAST(MIN(gap_us) AS LONG) AS min_gap_us,
               CAST(MAX(gap_us) AS LONG) AS max_gap_us,
               CAST(SUM(gap_us) AS LONG) AS sum_gap_us
        FROM lagged GROUP BY user_id
        """
    )



@register(
    "q52_jump_outliers",
    oracle=_COORDS_CTE
    + """
    , lagged AS (
      SELECT user_id, event_id, lat, lon, ts,
             LAG(lat) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plat,
             LAG(lon) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS plon
      FROM coords
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_outliers,
           CAST(MAX(CAST(ROUND(2*6371*ASIN(LEAST(SQRT(
             POW(SIN(RADIANS(lat-plat)/2),2)
             + COS(RADIANS(plat))*COS(RADIANS(lat))*POW(SIN(RADIANS(lon-plon)/2),2)
           ), 1.0)) * 100) AS BIGINT)) AS DOUBLE)/100.0 AS max_jump_km
    FROM lagged
    WHERE plat IS NOT NULL AND 2*6371*ASIN(LEAST(SQRT(
             POW(SIN(RADIANS(lat-plat)/2),2)
             + COS(RADIANS(plat))*COS(RADIANS(lat))*POW(SIN(RADIANS(lon-plon)/2),2)
           ), 1.0)) > 20
    GROUP BY user_id
    """,
)
def q52_jump_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 corpus — segment-distance outlier filter (>20 km) rolled up per
    entity (reference ``docs/09-qa-curated-data.md:431-445``)."""
    ev = _with_coords(load(spark, sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = haversine_km(
        F.lag("lat").over(w), F.lag("lon").over(w), F.col("lat"), F.col("lon")
    )
    return (
        ev.withColumn("_d", d)
        .filter(F.col("_d") > 20)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_outliers"),
            (F.max(F.round(F.col("_d") * 100).cast("long")).cast("double") / 100.0)
            .alias("max_jump_km"),
        )
    )



@register(
    "q56_enforced_read_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE)/100.0 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def q56_enforced_read_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — schema-enforced parquet read: the declared read schema drops
    to exactly the needed columns (projection enforced at the scan). It
    declares the types the events files hold; physical-type drift would
    raise at execution (see ``read_parquet_enforced``)."""
    from pyspark.sql import types as T

    from noaa_ais_glue_lakehouse_spark.sources.readers import read_parquet_enforced

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    ev = read_parquet_enforced(spark, f"{sf_dir}/events.parquet", schema)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias(
            "sum_value"
        ),
    )



@register(
    "q68_json_props_stats",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS max_k
    FROM events
    WHERE json_extract(props, '$.k') IS NOT NULL
    GROUP BY event_type
    """,
)
def q68_json_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON props column with a
    declared schema (from_json — JVM-side, no UDF) and aggregate the
    extracted field. Schema-on-read for event payloads; malformed rows
    yield NULL and are filtered, never crash the scan."""
    ev = load(spark, sf_dir, "events")
    k = F.from_json("props", "struct<k:int>").getField("k")
    return (
        ev.withColumn("_k", k)
        .filter(F.col("_k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_k").cast("long").alias("sum_k"),
            F.max("_k").cast("long").alias("max_k"),
        )
    )



@register(
    "q76_median_value_per_type",
    oracle="""
    SELECT event_type,
           ROUND(MEDIAN(value), 6) AS median_value,
           ROUND(QUANTILE_CONT(value, 0.9), 6) AS p90_value
    FROM events GROUP BY event_type
    """,
)
def q76_median_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group median/percentile (percentile_cont) — the exact
    counterpart of the q63 sketch quantiles; linear-interpolation
    semantics match across engines, rounded to 6dp for hash stability.
    At 100 TB the sketch path (q63) is the default; this is the
    verification-grade variant for bounded groups."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY value)"), 6).alias(
            "median_value"
        ),
        F.round(F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY value)"), 6).alias(
            "p90_value"
        ),
    )


# ---------------------------------------------------------------------------
# Timeseries imputation, multidim aggregation, reshaping, rank analytics
# (round-3 widening: W-family + A-family shapes the reference's SQL corpus
# implies but never names, plus training-data curation signals)
# ---------------------------------------------------------------------------



@register(
    "q89_value_histogram",
    oracle="""
    SELECT event_type,
           CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
           ROUND(FLOOR(value / 25.0) * 25.0, 6) AS bin_lo,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def q89_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning per type — the distribution-profiling
    pass a curation pipeline runs before choosing quality thresholds.
    Pure integer bin arithmetic (no percentile state), one map-side
    combinable aggregation; at 100 TB the bin cardinality is bounded by
    range/width, independent of row count."""
    ev = load(spark, sf_dir, "events")
    bin_col = F.floor(F.col("value") / 25.0).cast("long")
    return ev.groupBy(
        "event_type",
        bin_col.alias("bin"),
        F.round(bin_col * 25.0, 6).alias("bin_lo"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))



@register(
    "q94_zscore_outliers",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s1,
             SUM(CAST(ROUND(value * 100) AS BIGINT) * CAST(ROUND(value * 100) AS BIGINT)) AS s2
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CAST(ABS(CAST(ROUND(e.value * 100) AS BIGINT) * m.n - m.s1) AS DOUBLE)
             > 3.0 * SQRT(GREATEST(CAST(m.n AS DOUBLE) * m.s2 - CAST(m.s1 AS DOUBLE) * m.s1, 0.0))
             AS is_outlier
    FROM events e JOIN m USING (event_type)
    """,
)
def q94_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type 3σ outlier flags — the statistical quality filter of a
    curation pipeline — computed from EXACT integer moments (Σcents,
    Σcents²) instead of stddev_samp: engines disagree on streaming
    variance algorithms (Welford vs textbook) at float precision, while
    integer sums are order-independent and identical everywhere. The
    comparison |x·n − s1| > 3·√(n·s2 − s1²) is the z-score test scaled
    through by n to stay in exact integers until the final sqrt. One
    |types|-sized broadcast joins the moments back — no second scan
    shuffle."""
    ev = load(spark, sf_dir, "events")
    c = cents(F.col("value"))
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(c).alias("s1"),
        F.sum(c * c).alias("s2"),
    )
    joined = ev.select("event_id", "event_type", c.alias("_c")).join(
        F.broadcast(m), "event_type"
    )
    lhs = F.abs(F.col("_c") * F.col("n") - F.col("s1")).cast("double")
    rhs = 3.0 * F.sqrt(
        F.greatest(
            F.col("n").cast("double") * F.col("s2")
            - F.col("s1").cast("double") * F.col("s1"),
            F.lit(0.0),
        )
    )
    return joined.select("event_id", "event_type", (lhs > rhs).alias("is_outlier"))



@register(
    "q127_exact_correlation",
    oracle="""
    WITH m AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sx,
             SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS sy,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(ROUND(value * 100) AS BIGINT)) AS sxx,
             SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)
                 * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS syy,
             SUM(CAST(ROUND(value * 100) AS BIGINT)
                 * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS sxy
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * n - 1.0), 6) AS covar_scaled,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS corr_value_hour
    FROM m
    """,
)
def q127_exact_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation/covariance from EXACT integer moments — the q94
    framework extended to second-order cross-moments: built-in corr()
    accumulates floating partials whose value depends on partition
    order, so cross-engine (and cross-run) hashes can't match; integer
    sums of x, y, x², y², xy are order-independent, and the final
    double arithmetic is a deterministic function of them. This is how
    an engine reports reproducible statistics at 100 TB."""
    ev = load(spark, sf_dir, "events")
    x = cents(F.col("value"))
    y = F.hour("ts").cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy, sxy = (
        F.col("sxx").cast("double"),
        F.col("syy").cast("double"),
        F.col("sxy").cast("double"),
    )
    num = nd * sxy - sx * sy
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(num / (nd * F.col("n") - 1.0), 6).alias("covar_scaled"),
        F.round(
            num / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy)), 6
        ).alias("corr_value_hour"),
    )



@register(
    "q140_psi_drift",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: attaching the half- totals scalar to the |bins|-sized PSI table",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN CAST(ts AS DATE) < DATE '2024-01-15' THEN 0 ELSE 1 END
               AS half,
             LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 9) AS bin
      FROM events
    ),
    c AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
      FROM b GROUP BY bin
    ),
    t AS (
      SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM c
    ),
    p AS (
      SELECT bin,
             (n0 + 0.5) / (t0 + 5.0) AS p0,
             (n1 + 0.5) / (t1 + 5.0) AS p1
      FROM c, t
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           ROUND(p0, 6) AS p_ref,
           ROUND(p1, 6) AS p_cur,
           ROUND((p1 - p0) * ln(p1 / p0), 6) AS psi_term
    FROM p
    """,
)
def q140_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index — the ML-ops drift metric that decides
    whether a feature's distribution moved enough to retrain: the value
    column binned into fixed-width deciles, first-half vs second-half
    month proportions (Laplace-smoothed so empty bins can't produce
    ±inf), per-bin PSI terms emitted (sum ≥ 0.2 is the standard 'retrain'
    flag). Two conditional-sum aggregations over one scan + a scalar
    totals join; every proportion derives from exact integer counts, so
    the doubles are engine-identical."""
    ev = load(spark, sf_dir, "events")
    half = F.when(
        F.to_date("ts") < F.lit("2024-01-15").cast("date"), F.lit(0)
    ).otherwise(F.lit(1))
    bin_ = F.least(F.floor(F.col("value") / 10.0).cast("long"), F.lit(9))
    c = ev.select(half.alias("_h"), bin_.alias("bin")).groupBy("bin").agg(
        F.sum(F.when(F.col("_h") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("_h") == 1, 1).otherwise(0)).alias("n1"),
    )
    t = c.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    p = c.crossJoin(F.broadcast(t)).select(
        "bin",
        ((F.col("n0") + 0.5) / (F.col("t0") + 5.0)).alias("p0"),
        ((F.col("n1") + 0.5) / (F.col("t1") + 5.0)).alias("p1"),
    )
    return p.select(
        F.col("bin").cast("long").alias("bin"),
        F.round("p0", 6).alias("p_ref"),
        F.round("p1", 6).alias("p_cur"),
        F.round((F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0")), 6).alias(
            "psi_term"
        ),
    )



@register(
    "q145_robust_outliers",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT event_type, MEDIAN(cents) AS m FROM c GROUP BY event_type
    ),
    dev AS (
      SELECT c.event_type, c.cents, med.m,
             ABS(c.cents - med.m) AS adev
      FROM c JOIN med USING (event_type)
    ),
    mad AS (
      SELECT event_type, MEDIAN(adev) AS mad FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(CAST(MIN(d.m) AS DOUBLE), 6) AS median_cents,
           ROUND(CAST(MIN(mad.mad) AS DOUBLE), 6) AS mad_cents,
           CAST(SUM(CASE WHEN mad.mad > 0
                          AND 0.6745 * ABS(d.cents - d.m) / mad.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM dev d JOIN mad USING (event_type)
    GROUP BY d.event_type
    """,
)
def q145_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via MAD (median absolute deviation) and
    the modified z-score (0.6745·|x−med|/MAD > 3.5, Iglewicz–Hoaglin) —
    the outlier rule that, unlike q94's 3σ, is not itself dragged by the
    outliers it hunts. Two exact-median passes (percentile_cont over
    integer cents) sharing the type partition key; deviations join the
    |types|-sized median table by broadcast. The per-type medians ride
    MIN() through the final rollup (constant within the group) so the
    whole report is one row per type."""
    ev = load(spark, sf_dir, "events")
    c = ev.select("event_type", cents(F.col("value")).alias("cents"))
    med = c.groupBy("event_type").agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY cents)").alias("m")
    )
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("m"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    d = dev.join(F.broadcast(mad), "event_type")
    return d.groupBy("event_type").agg(
        F.round(F.min("m").cast("double"), 6).alias("median_cents"),
        F.round(F.min("mad").cast("double"), 6).alias("mad_cents"),
        F.sum(
            F.when(
                (F.col("mad") > 0)
                & (0.6745 * F.abs(F.col("cents") - F.col("m")) / F.col("mad") > 3.5),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_outliers"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )



@register(
    "q150_weighted_median",
    oracle="""
    WITH t AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(ROUND(l_quantity * 100) AS BIGINT) AS w
      FROM lineitem
    ),
    c AS (
      SELECT l_returnflag, price_cents, w,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY price_cents, w
                          ROWS UNBOUNDED PRECEDING) AS cum_w,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot_w
      FROM t
    ),
    m AS (
      SELECT l_returnflag, price_cents,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY price_cents, w) AS rn
      FROM c WHERE 2 * cum_w >= tot_w
    )
    SELECT l_returnflag,
           CAST(price_cents AS BIGINT) AS weighted_median_cents
    FROM m WHERE rn = 1
    """,
)
def q150_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTITY-weighted median price per return flag — the weighted
    quantile no built-in aggregate computes: cumulative-weight prefix
    sums over the ordered values, first row whose cumulative weight
    reaches half the total. Integer-cents weights make the crossing
    point exact; the cum-sum and selection windows share one partition
    key, so the whole statistic is one shuffle. (The unweighted exact
    form is q76; the sketch form is q63.)"""
    li = load(spark, sf_dir, "lineitem")
    t = li.select(
        "l_returnflag",
        cents(F.col("l_extendedprice")).alias("price_cents"),
        cents(F.col("l_quantity")).alias("w"),
    )
    w_ord = Window.partitionBy("l_returnflag").orderBy("price_cents", "w")
    c = t.select(
        "l_returnflag",
        "price_cents",
        "w",
        F.sum("w").over(w_ord.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum_w"
        ),
        F.sum("w").over(Window.partitionBy("l_returnflag")).alias("tot_w"),
    )
    m = c.filter(2 * F.col("cum_w") >= F.col("tot_w")).withColumn(
        "_rn", F.row_number().over(w_ord)
    )
    return m.filter(F.col("_rn") == 1).select(
        "l_returnflag", F.col("price_cents").cast("long").alias("weighted_median_cents")
    )



@register(
    "q151_k_anonymity_audit",
    oracle="""
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS k
      FROM customer GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small_groups,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS n_reidentifiable_rows,
           CAST(MIN(k) AS BIGINT) AS min_k
    FROM g
    """,
)
def q151_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nation, market
    segment): how many equivalence classes fall below k=5 and how many
    rows they expose — the privacy check a dataset release runs AFTER
    PII scrubbing (q103 removes direct identifiers; this measures
    re-identification risk from the indirect ones; remediation is
    generalization or the q125 quarantine). Two-level aggregation,
    |classes| rows at the final reduce."""
    cust = load(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k")
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("k") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_small_groups"),
        F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
        .cast("long")
        .alias("n_reidentifiable_rows"),
        F.min("k").cast("long").alias("min_k"),
    )



@register(
    "q155_winsorized_stats",
    oracle="""
    WITH r AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY CAST(ROUND(value * 100) AS BIGINT),
                                         event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ), b AS (
      SELECT event_type,
             MAX(CASE WHEN rn = CAST(FLOOR(0.01 * (n - 1)) AS BIGINT) + 1
                      THEN cents END) AS lo_cents,
             MAX(CASE WHEN rn = CAST(FLOOR(0.99 * (n - 1)) AS BIGINT) + 1
                      THEN cents END) AS hi_cents
      FROM r GROUP BY event_type
    )
    SELECT r.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           b.lo_cents, b.hi_cents,
           ROUND(CAST(SUM(LEAST(GREATEST(r.cents, b.lo_cents), b.hi_cents))
                      AS DOUBLE) / COUNT(*), 6) AS winsorized_mean_cents
    FROM r JOIN b USING (event_type)
    GROUP BY r.event_type, b.lo_cents, b.hi_cents
    """,
)
def q155_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clipped) per-type value stats — the outlier-robust
    normalization a feature pipeline applies before model training: clamp
    each value into its group's exact [p01, p99] band, then average.
    Percentile bounds are RANK-BASED (the sorted element at
    floor(p*(n-1))+1), not interpolated — integers survive the
    cross-engine hash where interpolated floats would not. One shuffle:
    row_number, the partition count, and both bound picks all ride the
    same hash-partition by event_type; the final groupBy reuses that
    partitioning (no second exchange), and the clamped sum is exact
    integer cents. At 100 TB the per-group sort is the cost — the same
    cost any exact-percentile requires; for sketch-based bounds at scale
    see q63 (KLL quantiles)."""
    ev = load(spark, sf_dir, "events")
    r = ev.select(
        "event_type", "event_id", cents(F.col("value")).alias("cents")
    )
    wo = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wp = Window.partitionBy("event_type")
    r = r.withColumn("rn", F.row_number().over(wo)).withColumn(
        "n", F.count(F.lit(1)).over(wp)
    )
    lo_idx = F.floor(0.01 * (F.col("n") - 1)).cast("long") + 1
    hi_idx = F.floor(0.99 * (F.col("n") - 1)).cast("long") + 1
    r = r.withColumn(
        "lo_cents",
        F.max(F.when(F.col("rn") == lo_idx, F.col("cents"))).over(wp),
    ).withColumn(
        "hi_cents",
        F.max(F.when(F.col("rn") == hi_idx, F.col("cents"))).over(wp),
    )
    clamped = F.least(
        F.greatest(F.col("cents"), F.col("lo_cents")), F.col("hi_cents")
    )
    return (
        r.groupBy("event_type", "lo_cents", "hi_cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(
                F.sum(clamped).cast("double") / F.count(F.lit(1)), 6
            ).alias("winsorized_mean_cents"),
        )
        .select(
            "event_type", "n", "lo_cents", "hi_cents", "winsorized_mean_cents"
        )
    )



@register(
    "q187_equidepth_histogram",
    oracle="""
    WITH b AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM b GROUP BY bucket
    """,
)
def q187_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X114 — exact equi-depth (equi-height) histogram: 10 buckets of
    equal row count with their value boundaries — the histogram a
    cost-based optimizer actually wants (equi-WIDTH q89 starves on
    skewed data; equi-depth adapts bucket width to density).

    NTILE over a total order needs a global sort — acceptable here
    because the input is the |orders| rollup side, and the oracle pins
    the exact semantics. The at-scale variant for raw facts is
    approx_percentile boundaries (q63) + one hash-agg; this query is the
    exact reference for that sketch. Boundary values pass through
    un-summed, so doubles match bit-for-bit.
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    b = orders.select(
        "o_totalprice", F.ntile(10).over(w).alias("bucket")
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )



@register(
    "q190_benford_audit",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the value-count total attached to the 9-row digit table",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
                  AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1.0
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1),
    t AS (SELECT SUM(n) AS tot FROM c)
    SELECT digit,
           CAST(n AS BIGINT) AS n_values,
           ROUND(n / CAST((SELECT tot FROM t) AS DOUBLE), 6) AS observed_p,
           ROUND(ln(1.0 + 1.0/digit) / ln(10.0), 6) AS benford_p,
           ROUND(ABS(n / CAST((SELECT tot FROM t) AS DOUBLE)
                     - ln(1.0 + 1.0/digit) / ln(10.0)), 6) AS abs_dev
    FROM c
    """,
)
def q190_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X117 — Benford's-law first-digit audit: the distribution of
    leading significant digits vs log10(1+1/d) — the classic
    fabricated-data / broken-generator detector for financial columns
    (synthetic uniform generators fail it loudly, which is itself the
    signal here).

    First digit extracted from the DECIMAL(18,2) string form (exact —
    no float-format drift between engines); one 9-row aggregation after
    a row-local projection, total attached as a single-row broadcast.
    """
    orders = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
    ).cast("long")
    c = (
        orders.filter(F.col("o_totalprice") >= 1.0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").alias("tot"))
    benford = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    obs = F.col("n") / F.col("tot").cast("double")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        F.col("n").cast("long").alias("n_values"),
        F.round(obs, 6).alias("observed_p"),
        F.round(benford, 6).alias("benford_p"),
        F.round(F.abs(obs - benford), 6).alias("abs_dev"),
    )



@register(
    "q196_dp_noisy_counts",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT event_type, day, n,
             (CAST(CAST(concat('0x', substr(md5(concat('dp|', event_type, '|',
                    CAST(day AS VARCHAR))), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5)
               / 4503599627370496.0 AS uu
      FROM c
    )
    SELECT event_type, day,
           ROUND(n + (CASE WHEN uu < 0.5 THEN 1.0 ELSE -1.0 END)
                     * ln(1.0 - 2.0*ABS(uu - 0.5)), 6) AS noisy_count
    FROM u
    """,
)
def q196_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X123 — ε-differential-privacy histogram release (ε=1, Laplace
    mechanism): per-(type, day) counts plus Laplace(1/ε) noise drawn by
    inverse-CDF from a SEEDED hash-uniform — the release is reproducible
    across engines and re-runs (the determinism is for the correctness
    gate; a production release would swap the seed per publication).
    The true counts never leave the aggregation: noise is applied in the
    same projection that would be written out.

    Note sign convention: u<0.5 maps to +ln(1-2|u-0.5|)·(+1)... the
    inverse-CDF here is the symmetric form noise = -b·sgn(u-0.5)·
    ln(1-2|u-0.5|), b=1 — identical expression both engines.
    """
    from noaa_ais_glue_lakehouse_spark.functions.hashing import hash_uniform

    ev = load(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    u = hash_uniform(
        F.concat(F.col("event_type"), F.lit("|"), F.col("day").cast("string")),
        "dp|",
    )
    noise = (
        F.when(u < 0.5, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(1.0 - 2.0 * F.abs(u - 0.5))
    )
    return c.select(
        "event_type",
        "day",
        F.round(F.col("n") + noise, 6).alias("noisy_count"),
    )



@register(
    "q197_l_diversity_audit",
    oracle="""
    WITH cls AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT n_chars // 100) AS BIGINT) AS l_distinct
      FROM documents GROUP BY 1, 2
    )
    SELECT lang, source, class_size, l_distinct,
           l_distinct < 3 AS below_l3
    FROM cls
    """,
)
def q197_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X124 — l-diversity audit, the companion to q151's k-anonymity:
    within each quasi-identifier class (lang, source), how many DISTINCT
    values of the sensitive attribute (length bucket standing in for a
    sensitive column) appear — a class can be k-anonymous yet leak
    everything if all its members share one sensitive value. Classes
    with fewer than l=3 distinct values are flagged for suppression or
    generalization. One aggregation; COUNT(DISTINCT) expands via Expand
    exactly as q157's profiler does.
    """
    docs = load(spark, sf_dir, "documents")
    sens = F.floor(F.col("n_chars") / 100)
    cls = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.countDistinct(sens).cast("long").alias("l_distinct"),
    )
    return cls.select(
        "lang",
        "source",
        "class_size",
        "l_distinct",
        (F.col("l_distinct") < 3).alias("below_l3"),
    )


# ---------------------------------------------------------------------------
# Adoption, churn, stickiness (X125-X127)
# ---------------------------------------------------------------------------



@register(
    "q203_gini_coefficient",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
      FROM spend
    ),
    agg AS (
      SELECT COUNT(*) AS n, SUM(cents) AS tot, SUM(i * cents) AS weighted
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(CAST(tot AS DOUBLE)/100.0 AS DOUBLE) AS total_spend,
           ROUND(2.0 * weighted / (n * CAST(tot AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM agg
    """,
)
def q203_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X130 — Gini coefficient of customer spend (inequality /
    concentration of the revenue base): the exact rank formula
    G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n over integer-cents totals, with
    an id tiebreak making ranks total (ties in x leave G unchanged —
    the formula is tie-invariant — but determinism wants a total
    order anyway).

    The global rank runs over the |customers| rollup, not raw orders;
    at an unbounded entity count the rank becomes the q172 two-phase
    scan. Everything before the final division is exact integers.
    """
    orders = load(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(cents(F.col("o_totalprice"))).alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    ranked = spend.select(
        "cents", F.row_number().over(w).alias("i")
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        (F.sum("cents").cast("double") / 100.0).alias("total_spend"),
        F.round(
            2.0
            * F.sum(F.col("i") * F.col("cents"))
            / (F.count(F.lit(1)) * F.sum("cents").cast("double"))
            - (F.count(F.lit(1)) + 1.0) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
    )



@register(
    "q204_hhi_concentration",
    oracle="""
    WITH seg AS (
      SELECT c.c_mktsegment AS segment, o.o_custkey,
             SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT segment, SUM(cents) AS seg_total FROM seg GROUP BY 1)
    SELECT s.segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           ROUND(SUM(POW(s.cents / CAST(t.seg_total AS DOUBLE), 2)) * 10000.0,
                 6) AS hhi
    FROM seg s JOIN tot t ON t.segment = s.segment
    GROUP BY s.segment
    """,
)
def q204_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X131 — Herfindahl–Hirschman concentration index per market
    segment (Σ share² × 10000, the antitrust scale): does one customer
    dominate a segment's revenue? The within-segment share denominator
    rides along as a window sum over the |segment × customer| rollup —
    no second join, one shuffle keyed on the segment after the rollup's
    customer-key shuffle.
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    seg = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_mktsegment")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("o_custkey")
        )
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("cents"))
    )
    share = F.col("cents") / F.sum("cents").over(
        Window.partitionBy("segment")
    ).cast("double")
    return (
        seg.withColumn("share", share)
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum(F.pow("share", 2)) * 10000.0, 6).alias("hhi"),
        )
    )



@register(
    "q229_calibration_bins",
    oracle="""
    WITH s AS (
      SELECT CAST(LEAST(FLOOR(value / 50.0), 9) AS INTEGER) AS bin,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 50000.0, 6)
             AS mean_score,
           ROUND(CAST(SUM(pos) AS DOUBLE) / COUNT(*), 6) AS frac_pos,
           ROUND(abs(CAST(SUM(pos) AS DOUBLE) / COUNT(*)
                     - CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 50000.0), 6)
             AS gap
    FROM s GROUP BY bin
    """,
)
def q229_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X156 — calibration / reliability diagram: treat value/500 as a
    predicted purchase probability, bin into deciles, and compare each
    bin's mean prediction against its observed purchase rate; ``gap``
    is the per-bin |confidence - accuracy| whose n-weighted sum is the
    Expected Calibration Error. The standard diagnostic before trusting
    any model-score column as a probability.

    Plan shape: one hash aggregation on the 10-key bin column (fully
    map-side combinable); mean scores go through exact integer cents so
    the only floats are the mirrored final divisions.
    """
    ev = load(spark, sf_dir, "events")
    s = ev.select(
        F.least(F.floor(F.col("value") / 50.0), F.lit(9))
        .cast("int")
        .alias("bin"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    n = F.count(F.lit(1))
    mean_score = F.sum("cents").cast("double") / n / F.lit(50000.0)
    frac = F.sum("pos").cast("double") / n
    return s.groupBy("bin").agg(
        n.cast("long").alias("n"),
        F.round(mean_score, 6).alias("mean_score"),
        F.round(frac, 6).alias("frac_pos"),
        F.round(F.abs(frac - mean_score), 6).alias("gap"),
    )



@register(
    "q233_conformal_interval",
    oracle="""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_cents
      FROM events GROUP BY event_type
    ),
    s AS (
      SELECT e.event_type,
             abs(CAST(ROUND(e.value * 100) AS BIGINT) * m.n - m.sum_cents)
               AS score
      FROM events e JOIN m USING (event_type)
    ),
    r AS (
      SELECT event_type, score, COUNT(*) AS c FROM s GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, score,
             SUM(c) OVER (PARTITION BY event_type ORDER BY score) AS cc
      FROM r
    ),
    q AS (
      SELECT cum.event_type, MIN(score) AS q_scaled
      FROM cum JOIN m ON m.event_type = cum.event_type
      WHERE cc >= (9 * n + 9) // 10
      GROUP BY cum.event_type
    )
    SELECT m.event_type, CAST(m.n AS BIGINT) AS n,
           ROUND(CAST(m.sum_cents AS DOUBLE) / m.n / 100.0, 6) AS mu,
           ROUND(CAST(q_scaled AS DOUBLE) / (m.n * 100.0), 6) AS q90_abs_resid
    FROM m JOIN q USING (event_type)
    """,
)
def q233_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X160 — split-conformal prediction interval: per event type,
    predict value by the group mean and report the exact 90th-percentile
    absolute residual — the half-width of a distribution-free 90%
    prediction interval (the modern uncertainty wrapper for any point
    predictor). EXACT integer arithmetic throughout: the conformity
    score is |cents*n - sum_cents| (the absolute residual scaled by
    100n, monotone-equivalent within a group), and the quantile is the
    smallest score whose cumulative count reaches ceil(0.9n) — computed
    by rank logic, not an engine quantile function whose interpolation
    convention could differ.

    Plan shape: one 5-key scalar rollup broadcast back onto the scan,
    one (type, score) hash aggregation, then the cumulative window runs
    on the ROLLUP (|distinct scores| rows, partitioned per type) — the
    standard two-pass counting quantile that replaces a memory-bounded
    exact-percentile aggregate at scale.
    """
    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("sum_cents")
    )
    s = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        F.abs(cents * F.col("n") - F.col("sum_cents")).alias("score"),
    )
    r = s.groupBy("event_type", "score").agg(F.count(F.lit(1)).alias("c"))
    win = (
        Window.partitionBy("event_type")
        .orderBy("score")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = r.withColumn("cc", F.sum("c").over(win))
    q = (
        cum.join(F.broadcast(m.select("event_type", "n")), "event_type")
        .filter(F.col("cc") >= F.expr("(9 * n + 9) div 10"))
        .groupBy("event_type")
        .agg(F.min("score").alias("q_scaled"))
    )
    return m.join(q, "event_type").select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            F.col("sum_cents").cast("double") / F.col("n") / F.lit(100.0), 6
        ).alias("mu"),
        F.round(
            F.col("q_scaled").cast("double") / (F.col("n") * F.lit(100.0)), 6
        ).alias("q90_abs_resid"),
    )



@register(
    "q242_woe_iv_encoding",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the (pos, neg) totals scalar attached to the 10-row WoE table",
    oracle="""
    WITH f AS (
      SELECT CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INTEGER) % 10
               AS bucket,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events
    ),
    c AS (
      SELECT bucket, SUM(pos) AS p, SUM(1 - pos) AS q FROM f GROUP BY bucket
    ),
    g AS (SELECT SUM(p) AS pt, SUM(q) AS qt FROM c)
    SELECT bucket, CAST(p AS BIGINT) AS n_pos, CAST(q AS BIGINT) AS n_neg,
           ROUND(ln((CAST(p AS DOUBLE) / pt) / (CAST(q AS DOUBLE) / qt)), 6)
             AS woe,
           ROUND((CAST(p AS DOUBLE) / pt - CAST(q AS DOUBLE) / qt)
                 * ln((CAST(p AS DOUBLE) / pt) / (CAST(q AS DOUBLE) / qt)), 6)
             AS iv_contrib
    FROM c, g
    """,
)
def q242_woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X169 — weight-of-evidence encoding + information value (the
    credit-scoring feature screen): per feature bucket (the JSON prop
    ``k`` mod 10 — parsed with a mirrored regexp, no engine JSON
    divergence), WoE = ln((pos share)/(neg share)); the IV contribution
    sums to the feature's predictive-power score. The standard
    categorical encoding when a model needs monotone, target-aware
    numeric features.

    Plan shape: one 10-key conditional rollup; totals are a 1-row
    broadcast; all shares are exact-integer ratios inside mirrored
    float expressions.
    """
    ev = load(spark, sf_dir, "events")
    f = ev.select(
        (
            F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1).cast("int")
            % 10
        ).alias("bucket"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    c = f.groupBy("bucket").agg(
        F.sum("pos").alias("p"), F.sum(F.lit(1) - F.col("pos")).alias("q")
    )
    g = c.agg(F.sum("p").alias("pt"), F.sum("q").alias("qt"))
    ps = F.col("p").cast("double") / F.col("pt")
    qs = F.col("q").cast("double") / F.col("qt")
    woe = F.log(ps / qs)
    return c.crossJoin(F.broadcast(g)).select(
        "bucket",
        F.col("p").cast("long").alias("n_pos"),
        F.col("q").cast("long").alias("n_neg"),
        F.round(woe, 6).alias("woe"),
        F.round((ps - qs) * woe, 6).alias("iv_contrib"),
    )



@register(
    "q243_loo_target_encoding",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT event_type, COUNT(*) AS n, SUM(cents) AS sc
      FROM e GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(CAST(m.sc - e.cents AS DOUBLE) / ((m.n - 1) * 100.0), 6)
             AS loo_mean
    FROM e JOIN m USING (event_type)
    """,
)
def q243_loo_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X170 — leave-one-out target encoding: replace each row's category
    with the mean target of all OTHER rows in the category,
    (sum_cat - y_i) / (n_cat - 1) — the standard high-cardinality
    categorical encoding that avoids leaking each row's own label into
    its feature (plain target encoding overfits exactly this way).

    Plan shape: the encoding needs only the per-category (count, sum)
    rollup broadcast back onto the scan — one aggregation + one
    broadcast equi-join, NO self-join and no window, which is what
    makes LOO encoding viable on 10^11-row fact tables. Integer cents
    until the mirrored final division.
    """
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sc")
    )
    return e.join(F.broadcast(m), "event_type").select(
        "event_id",
        "event_type",
        F.round(
            (F.col("sc") - F.col("cents")).cast("double")
            / ((F.col("n") - 1) * F.lit(100.0)),
            6,
        ).alias("loo_mean"),
    )



@register(
    "q248_theil_sen_slope",
    allow_non_equi="deliberate |days|^2 theta self-joins ON THE DAY ROLLUP (dimension- sized pair spines for robust trend statistics) + 1-row scalars",
    oracle=_DAILY_PAIRS_CTE
    + """
    , slopes AS (
      SELECT CAST(y2 - y1 AS DOUBLE) / dt AS s, d1, d2 FROM pairs
    ),
    ranked AS (
      SELECT s, ROW_NUMBER() OVER (ORDER BY s, d1, d2) AS rn,
             COUNT(*) OVER () AS m
      FROM slopes
    )
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           CAST(m AS BIGINT) AS n_pairs,
           ROUND(s, 6) AS theil_sen_slope
    FROM ranked WHERE rn = (m + 1) // 2
    """,
)
def q248_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X176 — Theil-Sen robust trend estimator: the (lower) median of
    all pairwise slopes of the daily-volume series. Unlike q234's OLS
    it shrugs off outlier days (29% breakdown point) — the robust
    companion the MAD outlier screen (q145) pairs with for trends.

    Plan shape: the pair spine is a |days|^2 theta self-join ON THE
    DAY-LEVEL ROLLUP — dimension-sized by construction (435 pairs for a
    month), never the event table; the median is rank-selected with a
    total (slope, d1, d2) order so ties can't make it nondeterministic.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.d") > F.col("a.d")).select(
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("s"),
    )
    w = Window.orderBy("s", "d1", "d2")
    ranked = pairs.select(
        "s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("m"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        ranked.filter(F.col("rn") == F.expr("(m + 1) div 2"))
        .crossJoin(F.broadcast(nd))
        .select(
            "n_days",
            F.col("m").cast("long").alias("n_pairs"),
            F.round(F.col("s"), 6).alias("theil_sen_slope"),
        )
    )



@register(
    "q255_hill_tail_index",
    allow_non_equi="deliberate 1-row broadcast scalars: total-count / x_k order stat",
    oracle="""
    WITH c AS (
      SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents, event_id
      FROM events WHERE value > 0
    ),
    topk AS (
      SELECT cents FROM c ORDER BY cents DESC, event_id LIMIT 100
    ),
    xk AS (SELECT MIN(cents) AS mk FROM topk),
    terms AS (
      SELECT CAST(ROUND(1000000.0
               * ln(CAST(cents AS DOUBLE) / mk)) AS BIGINT) AS t
      FROM topk, xk
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           ROUND(CAST(SUM(t) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
             AS hill_estimate,
           ROUND(CASE WHEN SUM(t) > 0
                 THEN 1.0 / (CAST(SUM(t) AS DOUBLE) / COUNT(*) / 1000000.0)
                 ELSE NULL END, 6) AS tail_alpha
    FROM terms
    """,
)
def q255_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X183 — Hill estimator of the tail index over the top-100 order
    statistics of event value: hill = mean ln(x_i / x_k), alpha =
    1/hill. The standard "how heavy is this tail" number — whether
    revenue concentration (q203 Gini) comes from a power law (alpha <
    2: variance infinite, sampling plans must change) or merely a
    skewed-but-tame distribution.

    Plan shape: the order statistics are one TakeOrdered top-k (never a
    sort); x_k is a 1-row broadcast; per-term logs are rounded to
    integer micros before the order-free sum.
    """
    ev = load(spark, sf_dir, "events")
    c = ev.filter(F.col("value") > 0).select(
        F.round(F.col("value") * 100).cast("long").alias("cents"), "event_id"
    )
    topk = c.orderBy(F.col("cents").desc(), "event_id").limit(100).select(
        "cents"
    )
    xk = topk.agg(F.min("cents").alias("mk"))
    terms = topk.crossJoin(F.broadcast(xk)).select(
        F.round(
            F.lit(1000000.0)
            * F.log(F.col("cents").cast("double") / F.col("mk"))
        )
        .cast("long")
        .alias("t")
    )
    hill = F.sum("t").cast("double") / F.count(F.lit(1)) / F.lit(1000000.0)
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.round(hill, 6).alias("hill_estimate"),
        F.round(
            F.when(F.sum("t") > 0, F.lit(1.0) / hill).otherwise(F.lit(None)),
            6,
        ).alias("tail_alpha"),
    )



@register(
    "q315_cuped_adjustment",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the global CUPED moment scalar (n, Sx, Sy, Sxx, Sxy) attached to the 2-row variant rollup",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS pre,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                      THEN CAST(ROUND(value*100) AS BIGINT) ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ), g AS (
      SELECT COUNT(*) AS n, SUM(pre) AS sx, SUM(post) AS sy,
             SUM(pre*pre) AS sxx, SUM(pre*post) AS sxy
      FROM u
    )
    SELECT variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(CAST(SUM(post) AS DOUBLE) / COUNT(*), 6) AS mean_post_cents,
           ROUND(CAST(SUM(post) AS DOUBLE) / COUNT(*)
                 - (CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
                    / (g.n * g.sxx - g.sx * g.sx))
                   * (CAST(SUM(pre) AS DOUBLE) / COUNT(*)
                      - CAST(g.sx AS DOUBLE) / g.n), 6)
             AS mean_adjusted_cents
    FROM u, g
    GROUP BY variant, g.n, g.sx, g.sy, g.sxx, g.sxy
    """,
)
def q315_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for A/B tests (Deng et al. 2013, public):
    each user's post-period metric is adjusted by θ·(pre − mean_pre),
    θ = cov(pre,post)/var(pre) fit on ALL users — the pre-period
    explains away between-user variance so the experiment needs fewer
    samples. Everything reduces to exact integer moment sums: the
    per-variant adjusted mean has the closed form mean_post −
    θ·(mean_pre_variant − mean_pre_global), so no per-user float is ever
    summed. One user-grain aggregation + a deliberate 1-row moments
    broadcast."""
    ev = load(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    r = cents(F.col("value"))
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, r).otherwise(0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= cut, r).otherwise(0)).alias("post"),
    ).withColumn("variant", (F.col("user_id") % 2).cast("long"))
    dec = "decimal(38,0)"
    # moments in DECIMAL(38,0): sx*sx grows quadratically with data size
    # and leaves int64 around sf3-10; the oracle's HUGEINT widens the
    # same way
    g = u.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("pre").cast(dec)).alias("sx"),
        F.sum(F.col("post").cast(dec)).alias("sy"),
        F.sum((F.col("pre") * F.col("pre")).cast(dec)).alias("sxx"),
        F.sum((F.col("pre") * F.col("post")).cast(dec)).alias("sxy"),
    )
    per = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("pre").alias("vsx"),
        F.sum("post").alias("vsy"),
    )
    j = per.crossJoin(F.broadcast(g))
    theta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    mean_post = F.col("vsy").cast("double") / F.col("n_users")
    mean_pre_v = F.col("vsx").cast("double") / F.col("n_users")
    mean_pre_g = F.col("sx").cast("double") / F.col("n")
    return j.select(
        "variant",
        "n_users",
        F.round(mean_post, 6).alias("mean_post_cents"),
        F.round(mean_post - theta * (mean_pre_v - mean_pre_g), 6).alias(
            "mean_adjusted_cents"
        ),
    )



@register(
    "q339_mutual_information",
    oracle="""
    WITH j AS (
      SELECT event_type, CAST(dayofweek(ts) AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, dow, c,
             SUM(c) OVER (PARTITION BY event_type) AS cx,
             SUM(c) OVER (PARTITION BY dow) AS cy,
             SUM(c) OVER () AS n
      FROM j
    )
    SELECT CAST(SUM(CAST(ROUND(
             1000000.0 * c / n
             * LN(CAST(c AS DOUBLE) * n / (cx * cy))) AS BIGINT)) AS BIGINT)
             AS mi_micro_nats,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM m
    """,
)
def q339_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; day-of-week) — the dependence
    screen between two categorical columns (feature-selection /
    leakage-detection primitive; 0 = independent). The joint table is
    the only corpus-sized aggregation; marginals and the total are
    windows over the |types|×|dow| cells (bounded, single-digit rows —
    the q161 bounded-window idiom), and each cell's contribution is
    micro-rounded BEFORE the sum so the float total is order-
    independent. Complements q238's per-pair token PMI with the
    single-statistic column-level view."""
    ev = load(spark, sf_dir, "events")
    j = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("long").alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    m = j.select(
        "c",
        F.sum("c").over(Window.partitionBy("event_type")).alias("cx"),
        F.sum("c").over(Window.partitionBy("dow")).alias("cy"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    term = F.round(
        F.lit(1_000_000.0)
        * F.col("c")
        / F.col("n")
        * F.log(
            F.col("c").cast("double") * F.col("n") / (F.col("cx") * F.col("cy"))
        )
    ).cast("long")
    return m.select(term.alias("t"), "n").agg(
        F.sum("t").cast("long").alias("mi_micro_nats"),
        F.max("n").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
    )



@register(
    "q351_hbos_outliers",
    allow_non_equi=(
        "deliberate SINGLE-ROW broadcast cross joins: attaching the "
        "global (min,max,count) feature-stats scalar to the per-user "
        "feature frame for fixed-width binning - O(|users|) x 1"
    ),
    oracle=r"""
    WITH u AS (
      SELECT user_id, COUNT(*) AS n_ev,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s_c,
             COUNT(DISTINCT CAST(ts AS DATE)) AS n_d
      FROM events GROUP BY user_id
    ), st AS (
      SELECT MIN(n_ev) AS mn1, MAX(n_ev) AS mx1,
             MIN(s_c)  AS mn2, MAX(s_c)  AS mx2,
             MIN(n_d)  AS mn3, MAX(n_d)  AS mx3,
             COUNT(*) AS n FROM u
    ), b AS (
      SELECT u.user_id, st.n,
        CASE WHEN mx1 = mn1 THEN 0 ELSE LEAST(9, CAST(FLOOR(
          ((n_ev - mn1) * 10) / CAST(mx1 - mn1 AS DOUBLE)) AS BIGINT)) END AS b1,
        CASE WHEN mx2 = mn2 THEN 0 ELSE LEAST(9, CAST(FLOOR(
          ((s_c - mn2) * 10) / CAST(mx2 - mn2 AS DOUBLE)) AS BIGINT)) END AS b2,
        CASE WHEN mx3 = mn3 THEN 0 ELSE LEAST(9, CAST(FLOOR(
          ((n_d - mn3) * 10) / CAST(mx3 - mn3 AS DOUBLE)) AS BIGINT)) END AS b3
      FROM u CROSS JOIN st
    ), c1 AS (SELECT b1, COUNT(*) AS c FROM b GROUP BY b1),
       c2 AS (SELECT b2, COUNT(*) AS c FROM b GROUP BY b2),
       c3 AS (SELECT b3, COUNT(*) AS c FROM b GROUP BY b3)
    SELECT b.user_id,
           ROUND(3 * LOG10(CAST(b.n AS DOUBLE))
                 - LOG10(CAST(c1.c AS DOUBLE))
                 - LOG10(CAST(c2.c AS DOUBLE))
                 - LOG10(CAST(c3.c AS DOUBLE)), 6) AS hbos_score
    FROM b JOIN c1 USING (b1) JOIN c2 USING (b2) JOIN c3 USING (b3)
    ORDER BY hbos_score DESC, b.user_id
    LIMIT 20
    """,
)
def q351_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X281 — HBOS (Histogram-Based Outlier Score, Goldstein & Dengel
    2012) over per-user behavioral features (event count, total spend
    cents, active days): 10 fixed-width bins per feature, score =
    Σ_f −log10(binCount_f(x)/N) — the linear-time, embarrassingly
    parallel anomaly detector you reach for at 100 TB when isolation
    forests / kNN-based LOF can't shard (each feature's histogram is one
    tiny aggregate; scoring is a 3-way broadcast join).

    Engine-exactness: features and bin edges are pure integers; the bin
    index is floor((x−min)·10 / (max−min)) — an exact int64 numerator
    divided by an exact int64, one correctly-rounded IEEE division both
    engines share, so bins match bit-for-bit. log10 of small-int-valued
    doubles is the only libm call; scores are ROUND(...,6) and the
    top-20 is ordered by the ROUNDED score (then user_id) so a last-ulp
    libm divergence cannot reorder the result.

    Shape: one user aggregate, one 1-row stats scalar (broadcast), three
    ≤10-row histogram aggregates (broadcast joins), one TakeOrdered
    top-k — no wide shuffle beyond the initial user_id aggregation."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum(cents(F.col("value"))).alias("s_c"),
        F.countDistinct(F.to_date("ts")).alias("n_d"),
    )
    st = u.agg(
        F.min("n_ev").alias("mn1"), F.max("n_ev").alias("mx1"),
        F.min("s_c").alias("mn2"), F.max("s_c").alias("mx2"),
        F.min("n_d").alias("mn3"), F.max("n_d").alias("mx3"),
        F.count(F.lit(1)).alias("n"),
    )

    def _bin(x, mn, mx):
        return (
            F.when(F.col(mx) == F.col(mn), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(9),
                    F.floor(
                        ((F.col(x) - F.col(mn)) * 10)
                        / (F.col(mx) - F.col(mn)).cast("double")
                    ).cast("long"),
                )
            )
        )

    b = u.crossJoin(F.broadcast(st)).select(
        "user_id",
        "n",
        _bin("n_ev", "mn1", "mx1").alias("b1"),
        _bin("s_c", "mn2", "mx2").alias("b2"),
        _bin("n_d", "mn3", "mx3").alias("b3"),
    )
    c1 = b.groupBy("b1").agg(F.count(F.lit(1)).alias("c_1"))
    c2 = b.groupBy("b2").agg(F.count(F.lit(1)).alias("c_2"))
    c3 = b.groupBy("b3").agg(F.count(F.lit(1)).alias("c_3"))
    scored = (
        b.join(F.broadcast(c1), "b1")
        .join(F.broadcast(c2), "b2")
        .join(F.broadcast(c3), "b3")
        .select(
            "user_id",
            F.round(
                3 * F.log10(F.col("n").cast("double"))
                - F.log10(F.col("c_1").cast("double"))
                - F.log10(F.col("c_2").cast("double"))
                - F.log10(F.col("c_3").cast("double")),
                6,
            ).alias("hbos_score"),
        )
    )
    return scored.orderBy(F.desc("hbos_score"), F.asc("user_id")).limit(20)



@register(
    "q361_t_closeness_audit",
    allow_non_equi=(
        "deliberate bounded cartesians: the (distinct event_type) x (10-row "
        "bucket spine) densification and a SINGLE-ROW corpus-total broadcast "
        "- both O(|groups|), never row-level"
    ),
    oracle="""
    WITH b AS (
      SELECT event_type,
             LEAST(9, CAST(FLOOR(value / 50) AS BIGINT)) AS bkt
      FROM events
    ), types AS (SELECT DISTINCT event_type FROM b),
    spine AS (
      SELECT event_type, bkt
      FROM types CROSS JOIN (SELECT unnest(range(0, 10)) AS bkt)
    ),
    gcnt AS (SELECT event_type, bkt, COUNT(*) AS c FROM b GROUP BY 1, 2),
    filled AS (
      SELECT s.event_type, s.bkt, COALESCE(g.c, 0) AS c
      FROM spine s LEFT JOIN gcnt g USING (event_type, bkt)
    ),
    cums AS (
      SELECT event_type, bkt,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bkt) AS c_cum,
             SUM(c) OVER (PARTITION BY event_type) AS n_g
      FROM filled
    ),
    gcum AS (SELECT bkt, SUM(c_cum) AS g_cum FROM cums GROUP BY bkt),
    tot AS (SELECT SUM(n_g) AS n
            FROM (SELECT DISTINCT event_type, n_g FROM cums))
    SELECT event_type, CAST(MAX(n_g) AS BIGINT) AS n_group,
           ROUND(CAST(SUM(ABS(c_cum * n - g_cum * n_g)) AS DOUBLE)
                 / (MAX(n_g) * MAX(n) * 9.0), 6) AS t_closeness
    FROM cums JOIN gcum USING (bkt) CROSS JOIN tot
    WHERE bkt < 9
    GROUP BY event_type
    """,
)
def q361_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X291 — t-closeness audit (Li/Li/Venkatasubramanian, ICDE 2007):
    for each quasi-identifier group, the Earth Mover's Distance between
    the group's distribution of an ORDERED sensitive attribute and the
    global distribution; a group with t above threshold leaks the
    attribute. For ordered buckets EMD has the closed form
    (1/(m−1))·Σ_j |P_cum_j − Q_cum_j| — pure cumulative counting.
    Completes the privacy family (q151 k-anonymity, q197 l-diversity,
    q196 DP counts).

    Engine-exactness: cumulative-fraction differences are compared by
    integer cross-multiplication — |c_cum·N − g_cum·n_g| is an exact
    int64 numerator over the COMMON denominator n_g·N, so the bucket
    sum is order-independent; one final division, rounded to 6 dp.
    (At ≥3·10⁹-row corpora the products overflow int64 — now a RUNTIME
    `raise_error` guard engine-side rather than a silent non-ANSI wrap;
    the escape is decimal(38,0) widening, the q287/q315 pattern.) The
    10-bucket spine is densified per group so
    cumulative sums stay aligned when a group has empty buckets.

    Scale: one groupBy on (type, bucket), windows over ≤10-row
    partitions, a 1-row total broadcast — group-cardinality work."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.least(F.lit(9), F.floor(F.col("value") / 50).cast("long")).alias("bkt"),
    )
    types = b.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(spark.range(10).select(F.col("id").alias("bkt"))))
    gcnt = b.groupBy("event_type", "bkt").agg(F.count(F.lit(1)).alias("c"))
    filled = spine.join(gcnt, ["event_type", "bkt"], "left").select(
        "event_type", "bkt", F.coalesce("c", F.lit(0)).alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cums = filled.select(
        "event_type",
        "bkt",
        F.sum("c").over(w_cum).alias("c_cum"),
        F.sum("c").over(w_all).alias("n_g"),
    )
    glob = cums.groupBy("bkt").agg(F.sum("c_cum").alias("g_cum"))
    tot = (
        cums.select("event_type", "n_g")
        .distinct()
        .agg(F.sum("n_g").alias("n"))
    )
    return (
        cums.join(F.broadcast(glob), "bkt")
        .crossJoin(F.broadcast(tot))
        .filter(F.col("bkt") < 9)
        .groupBy("event_type")
        .agg(
            F.max("n_g").cast("long").alias("n_group"),
            F.round(
                F.sum(
                    # c_cum·N and g_cum·n_g are ≤ N², so int64 holds only
                    # while N < 3·10⁹ — guard at runtime instead of
                    # wrapping silently (non-ANSI Spark) where DuckDB
                    # would raise; past the bound widen to decimal(38,0)
                    # (q287/q315 pattern), as the docstring states.
                    F.expr(
                        "IF(n < 3000000000,"
                        " ABS(c_cum * n - g_cum * n_g),"
                        " CAST(raise_error('q361: corpus rows >= 3e9"
                        " overflow the int64 cross-multiplication;"
                        " widen to decimal(38,0)') AS BIGINT))"
                    )
                ).cast("double")
                / (F.max("n_g") * F.max("n") * F.lit(9.0)),
                6,
            ).alias("t_closeness"),
        )
    )



@register(
    "q370_histogram_split_finder",
    allow_non_equi=(
        "deliberate bounded cartesians: the 256-row bin spine x |classes| "
        "densification and a SINGLE-ROW corpus-total broadcast - "
        "group-cardinality, never row-level"
    ),
    oracle="""
    WITH v AS (
      SELECT LEAST(255, CAST(ROUND(value * 100) AS BIGINT) // 200) AS bin,
             event_type
      FROM events
    ), h AS (
      SELECT bin, event_type, COUNT(*) AS c FROM v GROUP BY 1, 2
    ), classes AS (SELECT DISTINCT event_type FROM v),
    spine AS (
      SELECT bin, event_type
      FROM (SELECT unnest(range(0, 256)) AS bin) CROSS JOIN classes
    ),
    filled AS (
      SELECT s.bin, s.event_type, COALESCE(h.c, 0) AS c
      FROM spine s LEFT JOIN h USING (bin, event_type)
    ),
    pre AS (
      SELECT bin, event_type,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS c_cum,
             SUM(c) OVER (PARTITION BY event_type) AS ct
      FROM filled
    ),
    cuts AS (
      SELECT bin,
             SUM(c_cum) AS n_l,
             SUM(ct) - SUM(c_cum) AS n_r,
             SUM(c_cum * c_cum) AS term_l,
             SUM((ct - c_cum) * (ct - c_cum)) AS term_r
      FROM pre GROUP BY bin
    ),
    scored AS (
      SELECT bin, n_l, n_r,
             (term_l * 1000000) // n_l + (term_r * 1000000) // n_r
               AS score_u,
             term_l, term_r
      FROM cuts WHERE n_l > 0 AND n_r > 0 AND bin < 255
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST((bin + 1) * 200 AS BIGINT) AS cut_cents,
           CAST(n_l AS BIGINT) AS n_left, CAST(n_r AS BIGINT) AS n_right,
           CAST(score_u AS BIGINT) AS score_u,
           ROUND((CAST(n_l + n_r AS DOUBLE)
                  - (CAST(term_l AS DOUBLE) / n_l
                     + CAST(term_r AS DOUBLE) / n_r))
                 / (n_l + n_r), 6) AS weighted_gini
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score_u DESC, bin) AS rk
          FROM scored)
    WHERE rk <= 5
    """,
)
def q370_histogram_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X300 — histogram-based best-split finding (the LightGBM/XGBoost
    `hist` kernel): bucket the feature into 256 fixed-width bins, build
    per-class cumulative counts, and score every cut by exact Gini gain
    — maximizing Σ_sides Σ_classes cnt²/n_side, which is equivalent to
    minimizing weighted impurity. Returns the 5 best cuts: one
    distributed pass over the corpus, then 256-row arithmetic — exactly
    how production GBDT frameworks make split finding
    corpus-size-independent.

    Engine-exactness: bin counts, cumulative counts and squared-count
    sums are int64; each side's score is the FLOOR division
    (term·10⁶)//n_side so the cut ranking is a total integer order
    (tiebreak: lower bin). The displayed weighted Gini is one fixed
    double expression from those same integers. The bin×class spine is
    densified so sparse bins can't misalign the cumulative sums (the
    q361 lesson).

    Scale: one groupBy(bin, class) collapses the corpus to ≤1280 rows;
    everything after is bounded-relation windows."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        F.least(
            F.lit(255), F.expr("CAST(ROUND(value * 100) AS BIGINT) DIV 200")
        ).alias("bin"),
        "event_type",
    )
    h = v.groupBy("bin", "event_type").agg(F.count(F.lit(1)).alias("c"))
    classes = v.select("event_type").distinct()
    spine = (
        spark.range(256)
        .select(F.col("id").alias("bin"))
        .crossJoin(F.broadcast(classes))
    )
    filled = spine.join(h, ["bin", "event_type"], "left").select(
        "bin", "event_type", F.coalesce("c", F.lit(0)).alias("c")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    pre = filled.select(
        "bin",
        F.sum("c").over(w_cum).alias("c_cum"),
        F.sum("c").over(w_all).alias("ct"),
    )
    cuts = pre.groupBy("bin").agg(
        F.sum("c_cum").alias("n_l"),
        (F.sum("ct") - F.sum("c_cum")).alias("n_r"),
        F.sum(F.col("c_cum") * F.col("c_cum")).alias("term_l"),
        F.sum(
            (F.col("ct") - F.col("c_cum")) * (F.col("ct") - F.col("c_cum"))
        ).alias("term_r"),
    )
    scored = cuts.filter(
        (F.col("n_l") > 0) & (F.col("n_r") > 0) & (F.col("bin") < 255)
    ).withColumn(
        "score_u",
        F.expr("(term_l * 1000000) DIV n_l + (term_r * 1000000) DIV n_r"),
    )
    w_rk = Window.orderBy(F.col("score_u").desc(), F.col("bin"))
    return (
        scored.withColumn("rk", F.row_number().over(w_rk))
        .filter(F.col("rk") <= 5)
        .select(
            F.col("bin").cast("long").alias("bin"),
            ((F.col("bin") + 1) * 200).cast("long").alias("cut_cents"),
            F.col("n_l").cast("long").alias("n_left"),
            F.col("n_r").cast("long").alias("n_right"),
            F.col("score_u").cast("long").alias("score_u"),
            F.round(
                (
                    (F.col("n_l") + F.col("n_r")).cast("double")
                    - (
                        F.col("term_l").cast("double") / F.col("n_l")
                        + F.col("term_r").cast("double") / F.col("n_r")
                    )
                )
                / (F.col("n_l") + F.col("n_r")),
                6,
            ).alias("weighted_gini"),
        )
    )



@register(
    "q398_randomized_response",
    oracle="""
    WITH rr AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS truth,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 2))
                  AS BIGINT) AS h1,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 3, 2))
                  AS BIGINT) % 2 AS coin
      FROM events
    ), reported AS (
      SELECT day, truth,
             CASE WHEN h1 < 64 THEN coin ELSE truth END AS reported
      FROM rr
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(reported) AS BIGINT) AS n_reported,
           ROUND((CAST(SUM(reported) AS DOUBLE) / COUNT(*) - 0.25 * 0.5)
                 / 0.75, 6) AS pi_hat,
           ROUND(CAST(SUM(truth) AS DOUBLE) / COUNT(*), 6) AS pi_true
    FROM reported
    GROUP BY day
    """,
)
def q398_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X328 — RANDOMIZED RESPONSE (Warner 1965) local-DP telemetry: each
    event reports its sensitive bit truthfully with probability 1−f and
    a fair coin with probability f=0.25 (ε = ln((1−f/2)/(f/2)) ≈ 1.95
    local DP), then the per-day rate is DEBIASED by the closed form
    π̂ = (obs − f/2)/(1−f) — the aggregate-utility-from-private-reports
    pattern (RAPPOR's core mechanism). Complements the central-DP
    Laplace release (q196): there noise is added at the aggregator;
    here each ROW is privatized before collection. The flip decisions
    are hash-seeded (md5 bytes of event_id), so the "randomization" is
    reproducible across engines and the debiased estimate itself is
    hash-checked against the true rate emitted alongside.

    Scale: row-local projection + one day-grained aggregate; nothing
    but counts crosses the shuffle."""
    ev = load(spark, sf_dir, "events")
    md = F.md5(F.col("event_id").cast("string"))
    rr = ev.select(
        F.to_date("ts").alias("day"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "truth"
        ),
        F.conv(F.substring(md, 1, 2), 16, 10).cast("long").alias("h1"),
        (F.conv(F.substring(md, 3, 2), 16, 10).cast("long") % 2).alias(
            "coin"
        ),
    )
    reported = rr.select(
        "day",
        "truth",
        F.when(F.col("h1") < 64, F.col("coin"))
        .otherwise(F.col("truth"))
        .alias("reported"),
    )
    return reported.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("reported").cast("long").alias("n_reported"),
        F.round(
            (F.sum("reported").cast("double") / F.count(F.lit(1)) - 0.25 * 0.5)
            / 0.75,
            6,
        ).alias("pi_hat"),
        F.round(F.sum("truth").cast("double") / F.count(F.lit(1)), 6).alias(
            "pi_true"
        ),
    )



@register(
    "q402_poisson_bootstrap_ci",
    oracle=f"""
    WITH reps AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS v_cents,
             r.r AS r,
             {_pois_weight_expr(
                 "CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)"
                 " || ':' || CAST(r.r AS VARCHAR)), 1, 8)) AS BIGINT)"
                 " / 4294967296.0")} AS w
      FROM events
      CROSS JOIN (SELECT UNNEST(range(0, 8)) AS r) r
    ), rep_means AS (
      SELECT day, r,
             CAST(ROUND(CAST(SUM(w * v_cents) AS DOUBLE) / SUM(w))
                  AS BIGINT) AS m_c
      FROM reps GROUP BY day, r HAVING SUM(w) > 0
    ), boot AS (
      SELECT day, COUNT(*) AS nr, SUM(m_c) AS s1, SUM(m_c * m_c) AS s2
      FROM rep_means GROUP BY day
    ), pt AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sv
      FROM events GROUP BY day
    )
    SELECT p.day, CAST(p.n AS BIGINT) AS n,
           ROUND(CAST(p.sv AS DOUBLE) / p.n, 6) AS mean_cents,
           ROUND(sqrt(CAST(b.nr * b.s2 - b.s1 * b.s1 AS DOUBLE)
                      / (b.nr * (b.nr - 1.0)) / b.nr) * 2.0, 6)
             AS ci_halfwidth_cents
    FROM pt p JOIN boot b USING (day)
    """,
)
def q402_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X332 — POISSON BOOTSTRAP confidence intervals (the
    streaming/distributed bootstrap: each row enters replica r with a
    Poisson(1) weight, so resampling never needs n or a shuffle —
    Chamandy et al. 2012, the standard production bootstrap at scale):
    per-day mean value with a ±2·SE(bootstrap) half-width from 8
    replicas. Weights are hash-seeded (md5 of event_id:replica mapped
    through the Poisson(1) inverse CDF as shared literals), so the
    "resampling" is reproducible across engines and the CI itself is
    hash-checked — the q66/q191 determinism move applied to uncertainty
    quantification. Replica means round to integer cents BEFORE the
    across-replica variance, which then computes from exact int64
    moments (n·s2 − s1², one double division) — order-free.

    Scale: the ×8 replica explode is row-local; per-(day, replica)
    sums are map-side combinable; nothing but 8 rows/day crosses the
    final stage. The same plan gives CIs for ANY weighted aggregate."""
    ev = load(spark, sf_dir, "events")
    u = (
        "CAST(conv(substring(md5(concat(CAST(event_id AS STRING), ':',"
        " CAST(r AS STRING))), 1, 8), 16, 10) AS BIGINT) / 4294967296.0"
    )
    reps = (
        ev.select(
            F.to_date("ts").alias("day"),
            cents(F.col("value")).alias("v_cents"),
            "event_id",
        )
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(7))))
        .withColumn("w", F.expr(_pois_weight_expr(u)))
    )
    rep_means = (
        reps.groupBy("day", "r")
        .agg(
            F.sum(F.col("w") * F.col("v_cents")).alias("swv"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "day",
            F.round(F.col("swv").cast("double") / F.col("sw"))
            .cast("long")
            .alias("m_c"),
        )
    )
    boot = rep_means.groupBy("day").agg(
        F.count(F.lit(1)).alias("nr"),
        F.sum("m_c").alias("s1"),
        F.sum(F.col("m_c") * F.col("m_c")).alias("s2"),
    )
    pt = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents(F.col("value"))).alias("sv"),
    )
    var_det = (
        (F.col("nr") * F.col("s2") - F.col("s1") * F.col("s1")).cast(
            "double"
        )
        / (F.col("nr") * (F.col("nr") - F.lit(1.0)))
        / F.col("nr")
    )
    return pt.join(boot, "day").select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("sv").cast("double") / F.col("n"), 6).alias(
            "mean_cents"
        ),
        F.round(F.sqrt(var_det) * 2.0, 6).alias("ci_halfwidth_cents"),
    )



@register(
    "q408_huber_robust_mean",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), med AS (
      SELECT event_type, vc AS m0 FROM (
        SELECT event_type, vc,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY vc, event_id) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
      ) WHERE rk = (n + 1) // 2
    ), dev AS (
      SELECT v.event_type, v.event_id, v.vc, m.m0,
             ABS(v.vc - m.m0) AS ad
      FROM v JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, ad AS mad0 FROM (
        SELECT event_type, ad,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ad, event_id) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ) WHERE rk = (n + 1) // 2
    ), wts AS (
      SELECT d.event_type, d.vc,
             CASE WHEN d.ad <= 1.345 * GREATEST(m.mad0, 1)
                  THEN 1000000
                  ELSE CAST(FLOOR(1000000.0 * 1.345 * GREATEST(m.mad0, 1)
                            / d.ad) AS BIGINT) END AS w_e6
      FROM dev d JOIN mad m USING (event_type)
    )
    SELECT w.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(m0) AS BIGINT) AS median_cents,
           CAST(MAX(mad0) AS BIGINT) AS mad_cents,
           ROUND(CAST(SUM(w.vc) AS DOUBLE) / COUNT(*), 6) AS mean_cents,
           ROUND(CAST(SUM(w.w_e6 * w.vc) AS DOUBLE) / SUM(w.w_e6), 6)
             AS huber_mean_cents
    FROM wts w
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
    GROUP BY w.event_type
    """,
)
def q408_huber_robust_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X338 — HUBER ROBUST LOCATION per group (Huber 1964, one IRLS
    step seeded at the exact median with MAD scale — the standard
    robust-mean recipe): values inside 1.345·MAD of the median get full
    weight, outliers get weight ∝ 1/distance (floored to integer
    micro-units — floor, not round, so no half-way tie can diverge
    between engines' rounding modes), and the reweighted mean
    down-weights heavy tails instead of merely FLAGGING them
    (q145/q94's outlier screens are the detectors; this is the robust
    ESTIMATOR those pipelines publish). Medians are exact counting
    quantiles (lower median, (value, event_id) total order); weights
    round to integer micro-units so both weighted sums are exact int64
    and the only float is the final division — deterministic IRLS,
    engine-identical. GREATEST(mad, 1) guards zero-MAD degenerate
    groups.

    Scale: two per-group window ranks (same partitioning, one shuffle
    reused) + map-side-combinable integer sums; nothing leaves the
    group grain."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        "event_type", "event_id", cents(F.col("value")).alias("vc")
    )
    wg = Window.partitionBy("event_type")

    def _median(df, col, out):
        ranked = df.select(
            "*",
            F.row_number()
            .over(wg.orderBy(col, "event_id"))
            .alias("_rk"),
            F.count(F.lit(1)).over(wg).alias("_n"),
        )
        return ranked.filter(
            F.col("_rk") == ((F.col("_n") + 1) / 2).cast("long")
        ).select("event_type", F.col(col).alias(out))

    med = _median(v, "vc", "m0")
    dev = v.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("vc") - F.col("m0"))
    )
    mad = _median(dev.select("event_type", "event_id", "ad"), "ad", "mad0")
    # weight expression as VERBATIM shared text (F.expr == oracle SQL):
    # a different multiply association (1e6*(1.345*g) vs (1e6*1.345)*g)
    # produces a different double and flips FLOOR at boundaries.
    wts = dev.join(mad, "event_type").select(
        "event_type",
        "vc",
        "m0",
        "mad0",
        F.expr(
            "CASE WHEN ad <= 1.345 * GREATEST(mad0, 1) THEN 1000000"
            " ELSE CAST(FLOOR(1000000.0 * 1.345 * GREATEST(mad0, 1)"
            " / ad) AS BIGINT) END"
        ).alias("w_e6"),
    )
    return wts.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("m0").cast("long").alias("median_cents"),
        F.max("mad0").cast("long").alias("mad_cents"),
        F.round(F.sum("vc").cast("double") / F.count(F.lit(1)), 6).alias(
            "mean_cents"
        ),
        F.round(
            F.sum(F.col("w_e6") * F.col("vc")).cast("double")
            / F.sum("w_e6"),
            6,
        ).alias("huber_mean_cents"),
    )


# shared VERBATIM between the Spark plan and the DuckDB oracle: the
# Zelen & Severo 26.2.17 normal-CDF polynomial (max error 7.5e-8).
# Identical expression TEXT on both sides means identical IEEE-double
# evaluation order, so the rounded p-values cannot drift between
# engines (the q405/q408 shared-text discipline).

@register(
    "q410_isotonic_calibration",
    allow_non_equi=(
        "the minimax interval lattice is a range join over the BIN "
        "table only (B=20 rows -> at most B^2 intervals x B query "
        "bins); raw events never enter a non-equi join"
    ),
    oracle="""
    WITH v AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS v52
      FROM events
    ), scored AS (
      SELECT y, (v52 % 12) + y * 8 AS bin FROM v
    ), b AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY bin
    ), pre AS (
      SELECT bin,
             SUM(cnt) OVER (ORDER BY bin) AS c_cum,
             SUM(pos) OVER (ORDER BY bin) AS p_cum
      FROM b
    ), iv AS (
      SELECT j.bin AS j, k.bin AS k,
             CAST(k.p_cum - COALESCE(pj.p_cum, 0) AS DOUBLE)
             / CAST(k.c_cum - COALESCE(pj.c_cum, 0) AS DOUBLE) AS avg_jk
      FROM pre j
      JOIN pre k ON j.bin <= k.bin
      LEFT JOIN pre pj
        ON pj.bin = (SELECT MAX(bin) FROM pre WHERE bin < j.bin)
    ), fit AS (
      SELECT i.bin,
             MAX(inner_min) AS iso
      FROM (
        SELECT i.bin, iv.j,
               MIN(iv.avg_jk) AS inner_min
        FROM b i
        JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
        GROUP BY i.bin, iv.j
      ) i
      GROUP BY i.bin
    )
    SELECT b.bin AS score_bin,
           b.cnt AS n,
           b.pos AS n_pos,
           ROUND(CAST(b.pos AS DOUBLE) / b.cnt, 6) AS raw_rate,
           ROUND(f.iso, 6) AS iso_rate
    FROM b JOIN fit f ON f.bin = b.bin
    """,
)
def q410_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X340 — ISOTONIC (PAV) CALIBRATION of a binned score via the
    minimax closed form: fit(i) = max_{j<=i} min_{k>=i} weightedavg(
    y over bins j..k) — the pool-adjacent-violators solution expressed
    RELATIONALLY (Robertson, Wright & Dykstra 1988, eq. 1.10), so the
    inherently sequential stack algorithm becomes a bounded interval
    lattice: B=20 score bins -> <=B(B+1)/2 interval averages from bin
    prefix sums -> per-bin max-of-min. This is the monotone-calibration
    step a probability-scoring pipeline runs after q229's reliability
    diagnostic FINDS miscalibration; hash-seeded scores (md5 low bits +
    a label shift) give a deliberately noisy-but-monotone-ish grid both
    engines reproduce bit-for-bit, and interval averages are exact-int
    ratios so the only floats are correctly-rounded single divisions.

    Scale: one map-side-combinable aggregate to bin grain (B rows);
    everything after — prefix sums, the j<=i<=k lattice, max-of-min —
    touches only the B-row bin table, so the non-equi join is O(B^3)
    on a constant-sized relation, never on events."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .alias("v52"),
    )
    scored = v.select("y", ((F.col("v52") % 12) + F.col("y") * 8).alias("bin"))
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wb = Window.orderBy("bin")
    pre = b.select(
        "bin",
        F.sum("cnt").over(wb).alias("c_cum"),
        F.sum("pos").over(wb).alias("p_cum"),
    )
    # previous-row cumulative via lag over the same tiny window
    prej = pre.select(
        "bin",
        "c_cum",
        "p_cum",
        F.lag("c_cum", 1, 0).over(wb).alias("c_lo"),
        F.lag("p_cum", 1, 0).over(wb).alias("p_lo"),
    )
    jside = prej.select(
        F.col("bin").alias("j"), F.col("c_lo").alias("cj"), F.col("p_lo").alias("pj")
    )
    kside = pre.select(
        F.col("bin").alias("k"), F.col("c_cum").alias("ck"), F.col("p_cum").alias("pk")
    )
    iv = (
        jside.join(F.broadcast(kside), F.col("j") <= F.col("k"))
        .select(
            "j",
            "k",
            (
                (F.col("pk") - F.col("pj")).cast("double")
                / (F.col("ck") - F.col("cj")).cast("double")
            ).alias("avg_jk"),
        )
    )
    bins_i = b.select(F.col("bin").alias("i"))
    fit = (
        bins_i.join(
            F.broadcast(iv),
            (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")),
        )
        .groupBy("i", "j")
        .agg(F.min("avg_jk").alias("inner_min"))
        .groupBy("i")
        .agg(F.max("inner_min").alias("iso"))
    )
    return (
        b.join(F.broadcast(fit), b.bin == fit.i)
        .select(
            F.col("bin").alias("score_bin"),
            F.col("cnt").alias("n"),
            F.col("pos").alias("n_pos"),
            F.round(F.col("pos").cast("double") / F.col("cnt"), 6).alias(
                "raw_rate"
            ),
            F.round("iso", 6).alias("iso_rate"),
        )
    )



@register(
    "q411_jackknife_day_variance",
    allow_non_equi=(
        "two 1-row scalar-broadcast crossJoin attaches (the corpus "
        "total row onto the ~30-row day grain, then the jackknife "
        "moment row back onto the same day grain)"
    ),
    oracle="""
    WITH v AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), d AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS n_d,
             CAST(SUM(vc) AS BIGINT) AS s_d
      FROM v GROUP BY day
    ), tot AS (
      SELECT CAST(SUM(n_d) AS BIGINT) AS n,
             CAST(SUM(s_d) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS g
      FROM d
    ), loo AS (
      SELECT d.day, d.n_d, tot.g,
             CAST(tot.s AS DOUBLE) / tot.n AS theta,
             CAST(tot.s - d.s_d AS DOUBLE) / (tot.n - d.n_d) AS theta_i,
             CAST(ROUND(CAST(tot.s - d.s_d AS DOUBLE)
                        / (tot.n - d.n_d) * 1000) AS BIGINT) AS ti_e3
      FROM d, tot
    ), jk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(ti_e3) AS BIGINT) AS s1,
             CAST(SUM(ti_e3 * ti_e3) AS BIGINT) AS s2
      FROM loo
    )
    SELECT loo.day,
           loo.n_d AS n,
           ROUND(loo.theta, 6) AS mean_cents,
           ROUND(loo.theta_i, 6) AS loo_mean_cents,
           ROUND(loo.g * loo.theta - (loo.g - 1) * loo.theta_i, 6)
             AS pseudo_value_cents,
           ROUND(SQRT((CAST(jk.g - 1 AS DOUBLE) / jk.g)
                 * (CAST(jk.s2 AS DOUBLE)
                    - (CAST(jk.s1 AS DOUBLE) / jk.g) * jk.s1)) / 1000.0, 6)
             AS jackknife_se_cents
    FROM loo, jk
    """,
)
def q411_jackknife_day_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X341 — DELETE-ONE-GROUP JACKKNIFE (Quenouille/Tukey; the
    cluster-robust uncertainty estimate) for the corpus mean, deleting
    one DAY at a time: days are the natural correlation clusters in
    event telemetry, so the naive iid standard error understates
    uncertainty; the jackknife SE from leave-one-day-out means is the
    honest one (and the pseudo-values are the bias-corrected per-day
    influence readings). Leave-one-out means are exact-int ratios
    ((S - s_i)/(N - n_i) from int64 cent moments); each theta_i is then
    pinned to MILLI-CENT INTEGERS before the variance moments, so the
    sum-of-squares is an exact int64 in ANY summation order — the
    float-order trap that makes naive SUM(double^2) drift between
    engines is designed out (the q402 integer-moment discipline).

    Scale: one map-side-combinable day-grain aggregate; the two
    crossJoins attach 1-row aggregates onto the ~|days| grain. Nothing
    wider than a date row ever shuffles."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(F.to_date("ts").alias("day"), cents(F.col("value")).alias("vc"))
    d = v.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_d"),
        F.sum("vc").cast("long").alias("s_d"),
    )
    tot = d.agg(
        F.sum("n_d").cast("long").alias("n"),
        F.sum("s_d").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("g"),
    )
    loo = d.crossJoin(F.broadcast(tot)).select(
        "day",
        "n_d",
        "g",
        (F.col("s").cast("double") / F.col("n")).alias("theta"),
        (
            (F.col("s") - F.col("s_d")).cast("double")
            / (F.col("n") - F.col("n_d"))
        ).alias("theta_i"),
        F.round(
            (F.col("s") - F.col("s_d")).cast("double")
            / (F.col("n") - F.col("n_d"))
            * 1000,
            0,
        )
        .cast("long")
        .alias("ti_e3"),
    )
    jk = loo.agg(
        F.count(F.lit(1)).cast("long").alias("jg"),
        F.sum("ti_e3").cast("long").alias("s1"),
        F.sum(F.col("ti_e3") * F.col("ti_e3")).cast("long").alias("s2"),
    )
    return loo.crossJoin(F.broadcast(jk)).select(
        "day",
        F.col("n_d").alias("n"),
        F.round("theta", 6).alias("mean_cents"),
        F.round("theta_i", 6).alias("loo_mean_cents"),
        F.round(
            F.col("g") * F.col("theta") - (F.col("g") - 1) * F.col("theta_i"),
            6,
        ).alias("pseudo_value_cents"),
        F.round(
            F.sqrt(
                ((F.col("jg") - 1).cast("double") / F.col("jg"))
                * (
                    F.col("s2").cast("double")
                    - (F.col("s1").cast("double") / F.col("jg")) * F.col("s1")
                )
            )
            / 1000.0,
            6,
        ).alias("jackknife_se_cents"),
    )



@register(
    "q417_platt_scaling",
    allow_non_equi=(
        "three 1-row parameter rows crossJoin-attached onto the 20-row "
        "bin table between Newton rounds; raw events never enter a "
        "non-equi join"
    ),
    oracle="""
    WITH v AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
                  AS BIGINT) AS v52
      FROM events
    ), scored AS (
      SELECT y, (v52 % 12) + y * 8 AS bin FROM v
    ), b AS (
      SELECT bin, CAST(bin AS DOUBLE) / 19.0 AS s,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY bin
    ), r1 AS (
      SELECT SUM(cnt * (1.0/(1.0+EXP(-(1.0*s+0.0)))) ) - SUM(pos) AS gb,
             SUM(cnt * s * (1.0/(1.0+EXP(-(1.0*s+0.0)))) )
               - SUM(pos * s) AS ga,
             SUM(cnt * (1.0/(1.0+EXP(-(1.0*s+0.0))))
                 * (1.0 - 1.0/(1.0+EXP(-(1.0*s+0.0))))) AS hbb,
             SUM(cnt * s * (1.0/(1.0+EXP(-(1.0*s+0.0))))
                 * (1.0 - 1.0/(1.0+EXP(-(1.0*s+0.0))))) AS hab,
             SUM(cnt * s * s * (1.0/(1.0+EXP(-(1.0*s+0.0))))
                 * (1.0 - 1.0/(1.0+EXP(-(1.0*s+0.0))))) AS haa
      FROM b
    ), p1 AS (
      SELECT 1.0 - ( hbb * ga - hab * gb) / GREATEST(haa*hbb - hab*hab, 1e-12) AS a,
             0.0 - ( haa * gb - hab * ga) / GREATEST(haa*hbb - hab*hab, 1e-12) AS bb
      FROM r1
    ), r2 AS (
      SELECT p1.a, p1.bb,
             SUM(cnt * (1.0/(1.0+EXP(-(p1.a*s+p1.bb)))) ) - SUM(pos) AS gb,
             SUM(cnt * s * (1.0/(1.0+EXP(-(p1.a*s+p1.bb)))) )
               - SUM(pos * s) AS ga,
             SUM(cnt * (1.0/(1.0+EXP(-(p1.a*s+p1.bb))))
                 * (1.0 - 1.0/(1.0+EXP(-(p1.a*s+p1.bb))))) AS hbb,
             SUM(cnt * s * (1.0/(1.0+EXP(-(p1.a*s+p1.bb))))
                 * (1.0 - 1.0/(1.0+EXP(-(p1.a*s+p1.bb))))) AS hab,
             SUM(cnt * s * s * (1.0/(1.0+EXP(-(p1.a*s+p1.bb))))
                 * (1.0 - 1.0/(1.0+EXP(-(p1.a*s+p1.bb))))) AS haa
      FROM b, p1 GROUP BY p1.a, p1.bb
    ), p2 AS (
      SELECT a - ( hbb * ga - hab * gb) / GREATEST(haa*hbb - hab*hab, 1e-12) AS a,
             bb - ( haa * gb - hab * ga) / GREATEST(haa*hbb - hab*hab, 1e-12) AS bb
      FROM r2
    )
    SELECT b.bin AS score_bin, b.cnt AS n, b.pos AS n_pos,
           ROUND(CAST(b.pos AS DOUBLE) / b.cnt, 6) AS raw_rate,
           ROUND(1.0/(1.0+EXP(-(p2.a * b.s + p2.bb))), 6) AS platt_rate,
           ROUND(p2.a, 6) AS slope,
           ROUND(p2.bb, 6) AS intercept
    FROM b, p2
    """,
)
def q417_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X347 — PLATT SCALING (Platt 1999): fit sigma(a·s + b) to the
    binned score/label table by TWO exact Newton–Raphson steps from
    (a,b) = (1,0), the parametric counterpart of q410's isotonic fit
    (same hash-seeded score bins, so the two calibrators are directly
    comparable on identical data). The whole fit runs at the B=20 bin
    grain: gradients and the 2×2 Hessian are sums over bins (counts
    are exact int64, sigmoids shared-text floats), each Newton update
    is a closed-form 2×2 solve materialized as a 1-row parameter
    relation, and the next round re-reads the SAME bin table — the
    fixed-iteration chained-CTE discipline of q318's k-means, at
    calibration-table size.

    Scale: one map-side-combinable aggregate to bin grain; every
    Newton round touches exactly B rows + a 1-row broadcast. Raw
    events are scanned once."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 13), 16, 10
        )
        .cast("long")
        .alias("v52"),
    )
    b = (
        v.select("y", ((F.col("v52") % 12) + F.col("y") * 8).alias("bin"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("pos"),
        )
        .withColumn("s", F.col("bin").cast("double") / 19.0)
    )

    def newton_round(bins: DataFrame, a_expr: str, b_expr: str) -> DataFrame:
        sig = f"(1.0/(1.0+EXP(-({a_expr}*s+{b_expr}))))"
        return bins.agg(
            F.expr(f"SUM(cnt * {sig}) - SUM(pos)").alias("gb"),
            F.expr(f"SUM(cnt * s * {sig}) - SUM(pos * s)").alias("ga"),
            F.expr(f"SUM(cnt * {sig} * (1.0 - {sig}))").alias("hbb"),
            F.expr(f"SUM(cnt * s * {sig} * (1.0 - {sig}))").alias("hab"),
            F.expr(f"SUM(cnt * s * s * {sig} * (1.0 - {sig}))").alias("haa"),
        )
    r1 = newton_round(b, "1.0", "0.0")
    p1 = r1.select(
        F.expr(
            "1.0 - (hbb * ga - hab * gb)"
            " / GREATEST(haa*hbb - hab*hab, 1e-12)"
        ).alias("a"),
        F.expr(
            "0.0 - (haa * gb - hab * ga)"
            " / GREATEST(haa*hbb - hab*hab, 1e-12)"
        ).alias("bb"),
    )
    r2 = (
        b.crossJoin(F.broadcast(p1))
        .groupBy("a", "bb")
        .agg(
            F.expr("SUM(cnt * (1.0/(1.0+EXP(-(a*s+bb))))) - SUM(pos)").alias("gb"),
            F.expr(
                "SUM(cnt * s * (1.0/(1.0+EXP(-(a*s+bb))))) - SUM(pos * s)"
            ).alias("ga"),
            F.expr(
                "SUM(cnt * (1.0/(1.0+EXP(-(a*s+bb))))"
                " * (1.0 - 1.0/(1.0+EXP(-(a*s+bb)))))"
            ).alias("hbb"),
            F.expr(
                "SUM(cnt * s * (1.0/(1.0+EXP(-(a*s+bb))))"
                " * (1.0 - 1.0/(1.0+EXP(-(a*s+bb)))))"
            ).alias("hab"),
            F.expr(
                "SUM(cnt * s * s * (1.0/(1.0+EXP(-(a*s+bb))))"
                " * (1.0 - 1.0/(1.0+EXP(-(a*s+bb)))))"
            ).alias("haa"),
        )
    )
    p2 = r2.select(
        F.expr(
            "a - (hbb * ga - hab * gb) / GREATEST(haa*hbb - hab*hab, 1e-12)"
        ).alias("a"),
        F.expr(
            "bb - (haa * gb - hab * ga) / GREATEST(haa*hbb - hab*hab, 1e-12)"
        ).alias("bb"),
    )
    return b.crossJoin(F.broadcast(p2)).select(
        F.col("bin").alias("score_bin"),
        F.col("cnt").alias("n"),
        F.col("pos").alias("n_pos"),
        F.round(F.col("pos").cast("double") / F.col("cnt"), 6).alias("raw_rate"),
        F.round(
            F.expr("1.0/(1.0+EXP(-(a * s + bb)))"), 6
        ).alias("platt_rate"),
        F.round("a", 6).alias("slope"),
        F.round("bb", 6).alias("intercept"),
    )



@register(
    "q418_eb_shrinkage",
    allow_non_equi=(
        "one 1-row method-of-moments prior row crossJoin-attached onto "
        "the user-grain rate table"
    ),
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY user_id
    ), mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(k * 1000 // n) AS BIGINT) AS sr,
             CAST(SUM((k * 1000 // n) * (k * 1000 // n)) AS BIGINT) AS sr2,
             CAST(SUM(1000 // n) AS BIGINT) AS sinv
      FROM u
    ), prior AS (
      SELECT mu,
             GREATEST((varr - mu * (1.0 - mu) * (CAST(sinv AS DOUBLE) / 1000.0 / g))
                      / GREATEST(mu * (1.0 - mu) - varr
                                 + mu * (1.0 - mu) * (CAST(sinv AS DOUBLE) / 1000.0 / g), 1e-9),
                      0.5) AS m
      FROM (
        SELECT CAST(sr AS DOUBLE) / 1000.0 / g AS mu,
               CAST(sr2 AS DOUBLE) / 1000000.0 / g
                 - (CAST(sr AS DOUBLE) / 1000.0 / g)
                   * (CAST(sr AS DOUBLE) / 1000.0 / g) AS varr,
               sinv, g
        FROM mom
      )
    )
    SELECT u.user_id,
           u.n, u.k,
           ROUND(CAST(u.k AS DOUBLE) / u.n, 6) AS raw_rate,
           ROUND((u.k + prior.m * prior.mu) / (u.n + prior.m), 6)
             AS shrunk_rate,
           ROUND(prior.mu, 6) AS prior_mean,
           ROUND(prior.m, 6) AS prior_strength
    FROM u, prior
    """,
)
def q418_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X348 — EMPIRICAL-BAYES BETA-BINOMIAL SHRINKAGE of per-user
    conversion rates (the Morris/Efron small-sample fix every
    leaderboard and target-encoder needs): a user with 2/2 purchases
    is NOT a 100%-converter — their rate shrinks toward the corpus
    mean in proportion to evidence, posterior = (k + m·μ)/(n + m).
    The prior (μ, m) comes from method-of-moments on the observed
    rate distribution: between-user variance minus the binomial
    sampling floor gives the true prior variance, and m = μ(1−μ)/τ²−1
    re-expressed in the numerically-guarded form below (floored at
    0.5 so a degenerate no-overdispersion corpus still shrinks
    finitely instead of dividing by ~0). Complements q243's LOO
    target encoding (leakage-safe but unshrunken) and q242's WoE
    (global, not per-entity).

    Scale: one user-grain aggregate (map-side combine), a 1-row
    moment reduce, and a broadcast attach. Rate moments are pinned to
    MILLI-UNIT INTEGERS before summing (k·1000 DIV n), so the prior is
    identical under any partial-aggregation order — a float SUM(rate²)
    would be summation-order-dependent, and since the prior feeds
    every output row, one flipped ulp would flip the whole result."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    # milli-unit integer rate moments: SUM over users is exact int64 in
    # ANY partial-aggregation order (the q402/q411 discipline) — a float
    # SUM(rate^2) here would make the shared prior summation-order-
    # dependent and could flip every output row at once
    mom = u.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum(F.expr("k * 1000 DIV n")).cast("long").alias("sr"),
        F.sum(F.expr("(k * 1000 DIV n) * (k * 1000 DIV n)"))
        .cast("long")
        .alias("sr2"),
        F.sum(F.expr("1000 DIV n")).cast("long").alias("sinv"),
    )
    prior = mom.select(
        (F.col("sr").cast("double") / 1000.0 / F.col("g")).alias("mu"),
        (
            F.col("sr2").cast("double") / 1000000.0 / F.col("g")
            - (F.col("sr").cast("double") / 1000.0 / F.col("g"))
            * (F.col("sr").cast("double") / 1000.0 / F.col("g"))
        ).alias("varr"),
        "sinv",
        "g",
    ).select(
        "mu",
        F.greatest(
            (
                F.col("varr")
                - F.col("mu")
                * (1.0 - F.col("mu"))
                * (F.col("sinv").cast("double") / 1000.0 / F.col("g"))
            )
            / F.greatest(
                F.col("mu") * (1.0 - F.col("mu"))
                - F.col("varr")
                + F.col("mu")
                * (1.0 - F.col("mu"))
                * (F.col("sinv").cast("double") / 1000.0 / F.col("g")),
                F.lit(1e-9),
            ),
            F.lit(0.5),
        ).alias("m"),
    )
    return u.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "n",
        "k",
        F.round(F.col("k").cast("double") / F.col("n"), 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("m") * F.col("mu")) / (F.col("n") + F.col("m")),
            6,
        ).alias("shrunk_rate"),
        F.round("mu", 6).alias("prior_mean"),
        F.round("m", 6).alias("prior_strength"),
    )



@register(
    "q419_propensity_stratified_ate",
    allow_non_equi=(
        "one 1-row ATE aggregate crossJoin-attached back onto the "
        "8-row stratum table"
    ),
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(CASE WHEN SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                 AND event_type = 'signup'
                                THEN 1 ELSE 0 END)
                      >= SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   AND event_type = 'click'
                                  THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS BIGINT) AS t,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                           THEN CAST(ROUND(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), s AS (
      SELECT LEAST(x // 8, 7) AS stratum, t, y FROM u
    ), st AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(1 - t) AS BIGINT) AS n0,
             CAST(SUM(t * y) AS BIGINT) AS y1,
             CAST(SUM((1 - t) * y) AS BIGINT) AS y0
      FROM s GROUP BY stratum
    ), ate AS (
      SELECT ROUND(SUM(CASE WHEN n1 > 0 AND n0 > 0
                            THEN (CAST(y1 AS DOUBLE) / n1
                                  - CAST(y0 AS DOUBLE) / n0) * n_s
                            ELSE 0 END)
                   / NULLIF(SUM(CASE WHEN n1 > 0 AND n0 > 0
                                     THEN n_s ELSE 0 END), 0), 6)
               AS strat_ate,
             ROUND(SUM(CASE WHEN n1 > 0 AND n0 > 0
                            THEN CAST(y1 AS DOUBLE) * n_s / n1
                                 - CAST(y0 AS DOUBLE) * n_s / n0
                            ELSE 0 END)
                   / NULLIF(SUM(CASE WHEN n1 > 0 AND n0 > 0
                                     THEN n_s ELSE 0 END), 0), 6)
               AS ipw_ate
      FROM st
    )
    SELECT st.stratum, st.n_s, st.n1, st.n0,
           ROUND(CASE WHEN st.n1 > 0
                      THEN CAST(st.y1 AS DOUBLE) / st.n1 END, 6)
             AS mean_y_treat,
           ROUND(CASE WHEN st.n0 > 0
                      THEN CAST(st.y0 AS DOUBLE) / st.n0 END, 6)
             AS mean_y_ctrl,
           ROUND(CAST(st.n1 AS DOUBLE) / st.n_s, 6) AS propensity,
           ate.strat_ate, ate.ipw_ate
    FROM st, ate
    """,
)
def q419_propensity_stratified_ate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X349 — PROPENSITY-STRATIFIED ATE + IPW (Rosenbaum & Rubin 1983
    subclassification; Horvitz–Thompson weighting) for an OBSERVATIONAL
    effect: users self-select into treatment (a pre-period 'signup'),
    so the naive treat-vs-control post-period difference is confounded
    by activity; stratifying on the pre-period activity covariate and
    averaging within-stratum differences (weights n_s/N) removes the
    bias that sits in the stratum mix, and the IPW form re-weights by
    the within-stratum propensity n1/n_s. Strata with no overlap
    (n1=0 or n0=0) are excluded from both estimands and published
    with NULL means so the positivity violation is visible, not
    silently imputed — complements the RANDOMIZED machinery (CUPED
    q315, DiD q316, SRM gate q338) with the observational estimator.
    Strata are fixed covariate-value bins (x//8 capped at 7), NOT
    global quantiles, so stratification is shuffle-free at any scale;
    every estimand folds from exact int64 stratum moments.

    Scale: one user-grain aggregate, an 8-row stratum reduce, a 1-row
    ATE fold broadcast back — nothing wider than a user row
    shuffles, and only final ratios are float."""
    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-16"
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < F.lit(cutoff).cast("timestamp"), 1).otherwise(0)
        )
        .cast("long")
        .alias("x"),
        F.when(
            F.sum(
                F.when(
                    (F.col("ts") < F.lit(cutoff).cast("timestamp"))
                    & (F.col("event_type") == "signup"),
                    1,
                ).otherwise(0)
            )
            >= F.sum(
                F.when(
                    (F.col("ts") < F.lit(cutoff).cast("timestamp"))
                    & (F.col("event_type") == "click"),
                    1,
                ).otherwise(0)
            ),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("t"),
        F.sum(
            F.when(
                F.col("ts") >= F.lit(cutoff).cast("timestamp"),
                cents(F.col("value")),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    s = u.select(
        F.least(F.expr("x DIV 8"), F.lit(7)).alias("stratum"), "t", "y"
    )
    st = s.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("t").cast("long").alias("n1"),
        F.sum(1 - F.col("t")).cast("long").alias("n0"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("y1"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("y0"),
    )
    overlap = (F.col("n1") > 0) & (F.col("n0") > 0)
    ate = st.agg(
        F.round(
            F.sum(
                F.when(
                    overlap,
                    (
                        F.col("y1").cast("double") / F.col("n1")
                        - F.col("y0").cast("double") / F.col("n0")
                    )
                    * F.col("n_s"),
                ).otherwise(0.0)
            )
            / F.expr("NULLIF(SUM(CASE WHEN n1 > 0 AND n0 > 0"
                     " THEN n_s ELSE 0 END), 0)"),
            6,
        ).alias("strat_ate"),
        F.round(
            F.sum(
                F.when(
                    overlap,
                    F.col("y1").cast("double") * F.col("n_s") / F.col("n1")
                    - F.col("y0").cast("double") * F.col("n_s") / F.col("n0"),
                ).otherwise(0.0)
            )
            / F.expr("NULLIF(SUM(CASE WHEN n1 > 0 AND n0 > 0"
                     " THEN n_s ELSE 0 END), 0)"),
            6,
        ).alias("ipw_ate"),
    )
    return st.crossJoin(F.broadcast(ate)).select(
        "stratum",
        "n_s",
        "n1",
        "n0",
        F.round(
            F.when(
                F.col("n1") > 0, F.col("y1").cast("double") / F.col("n1")
            ),
            6,
        ).alias("mean_y_treat"),
        F.round(
            F.when(
                F.col("n0") > 0, F.col("y0").cast("double") / F.col("n0")
            ),
            6,
        ).alias("mean_y_ctrl"),
        F.round(F.col("n1").cast("double") / F.col("n_s"), 6).alias(
            "propensity"
        ),
        "strat_ate",
        "ipw_ate",
    )



@register(
    "q428_qini_uplift_curve",
    allow_non_equi=(
        "one 1-row corpus-total aggregate crossJoin-attached onto the "
        "8-row stratum-prefix table"
    ),
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                           THEN 1 ELSE 0 END) AS BIGINT) AS x,
             CAST(CASE WHEN SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                 AND event_type = 'signup'
                                THEN 1 ELSE 0 END)
                      >= SUM(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   AND event_type = 'click'
                                  THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS BIGINT) AS t,
             CAST(MAX(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                            AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), s AS (
      SELECT LEAST(x // 8, 7) AS stratum, t, y FROM u
    ), st AS (
      SELECT stratum,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(1 - t) AS BIGINT) AS n0,
             CAST(SUM(t * y) AS BIGINT) AS y1,
             CAST(SUM((1 - t) * y) AS BIGINT) AS y0
      FROM s GROUP BY stratum
    ), scored AS (
      SELECT *,
             CAST(y1 AS DOUBLE) / GREATEST(n1, 1)
               - CAST(y0 AS DOUBLE) / GREATEST(n0, 1) AS uplift_score
      FROM st
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY uplift_score DESC, stratum)
               AS rank,
             SUM(n1) OVER (ORDER BY uplift_score DESC, stratum) AS n1_cum,
             SUM(n0) OVER (ORDER BY uplift_score DESC, stratum) AS n0_cum,
             SUM(y1) OVER (ORDER BY uplift_score DESC, stratum) AS y1_cum,
             SUM(y0) OVER (ORDER BY uplift_score DESC, stratum) AS y0_cum
      FROM scored
    ), tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS tn1,
             CAST(SUM(n0) AS BIGINT) AS tn0,
             CAST(SUM(y1) AS BIGINT) AS ty1,
             CAST(SUM(y0) AS BIGINT) AS ty0
      FROM st
    )
    SELECT CAST(r.rank AS BIGINT) AS rank,
           r.stratum,
           ROUND(r.uplift_score, 6) AS uplift_score,
           CAST(r.n1_cum AS BIGINT) AS n1_cum,
           CAST(r.n0_cum AS BIGINT) AS n0_cum,
           ROUND(CAST(r.y1_cum AS DOUBLE)
                 - CAST(r.y0_cum AS DOUBLE) * r.n1_cum
                   / GREATEST(r.n0_cum, 1), 6) AS qini,
           ROUND((CAST(t.ty1 AS DOUBLE)
                  - CAST(t.ty0 AS DOUBLE) * t.tn1 / GREATEST(t.tn0, 1))
                 * r.n1_cum / t.tn1, 6) AS qini_random
    FROM ranked r, tot t
    """,
)
def q428_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X358 — QINI CURVE / uplift-targeting evaluation (Radcliffe 2007,
    the standard uplift-model diagnostic): users rank by their
    segment's estimated uplift (treated-minus-control conversion rate
    per covariate stratum — the T-learner at subclassification grain,
    sharing q419's strata and treatment), and each targeting depth
    publishes its cumulative incremental conversions Qini(k) =
    Y1_cum − Y0_cum·N1_cum/N0_cum against the random-targeting
    diagonal. A model that orders segments well bows above the
    diagonal; the gap at each prefix is exactly the extra conversions
    earned by targeting the top-k segments first — the
    campaign-sizing readout uplift teams act on. Cumulative sums run
    at STRATUM grain (8 rows ordered by score), so no global
    user-level window exists; every cumulative is exact int64.

    Scale: one user-grain aggregate, an 8-row stratum reduce, an
    8-row ordered prefix scan, a 1-row total attach."""
    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-16"
    pre = F.col("ts") < F.lit(cutoff).cast("timestamp")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, 1).otherwise(0)).cast("long").alias("x"),
        F.when(
            F.sum(F.when(pre & (F.col("event_type") == "signup"), 1).otherwise(0))
            >= F.sum(F.when(pre & (F.col("event_type") == "click"), 1).otherwise(0)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("t"),
        F.max(
            F.when(
                (~pre) & (F.col("event_type") == "purchase"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    s = u.select(F.least(F.expr("x DIV 8"), F.lit(7)).alias("stratum"), "t", "y")
    st = s.groupBy("stratum").agg(
        F.sum("t").cast("long").alias("n1"),
        F.sum(1 - F.col("t")).cast("long").alias("n0"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("y1"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("y0"),
    )
    scored = st.withColumn(
        "uplift_score",
        F.col("y1").cast("double") / F.greatest(F.col("n1"), F.lit(1))
        - F.col("y0").cast("double") / F.greatest(F.col("n0"), F.lit(1)),
    )
    w = Window.orderBy(F.desc("uplift_score"), "stratum")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = scored.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.sum("n1").over(wc).alias("n1_cum"),
        F.sum("n0").over(wc).alias("n0_cum"),
        F.sum("y1").over(wc).alias("y1_cum"),
        F.sum("y0").over(wc).alias("y0_cum"),
    )
    tot = st.agg(
        F.sum("n1").cast("long").alias("tn1"),
        F.sum("n0").cast("long").alias("tn0"),
        F.sum("y1").cast("long").alias("ty1"),
        F.sum("y0").cast("long").alias("ty0"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        F.col("rank").cast("long").alias("rank"),
        "stratum",
        F.round("uplift_score", 6).alias("uplift_score"),
        F.col("n1_cum").cast("long").alias("n1_cum"),
        F.col("n0_cum").cast("long").alias("n0_cum"),
        F.round(
            F.col("y1_cum").cast("double")
            - F.col("y0_cum").cast("double")
            * F.col("n1_cum")
            / F.greatest(F.col("n0_cum"), F.lit(1)),
            6,
        ).alias("qini"),
        F.round(
            (
                F.col("ty1").cast("double")
                - F.col("ty0").cast("double") * F.col("tn1") / F.greatest(F.col("tn0"), F.lit(1))
            )
            * F.col("n1_cum")
            / F.col("tn1"),
            6,
        ).alias("qini_random"),
    )



@register(
    "q429_dp_exponential_topk",
    oracle="""
    WITH cells AS (
      SELECT event_type, dayofweek(CAST(ts AS DATE)) AS wd,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, wd
    ), seeded AS (
      SELECT event_type, wd, n,
             (CAST(concat('0x', substr(md5(concat(event_type, ':',
                    CAST(wd AS VARCHAR))), 1, 13)) AS BIGINT) + 1.0)
               / 4503599627370497.0 AS u
      FROM cells
    ), noisy AS (
      SELECT event_type, wd, n,
             n / 2.0 - LN(-LN(u)) AS noisy_score
      FROM seeded
    )
    SELECT CAST(rk AS BIGINT) AS rank, event_type,
           CAST(wd AS BIGINT) AS weekday,
           ROUND(noisy_score, 6) AS noisy_score
    FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY noisy_score DESC,
                                   event_type, wd) AS rk
      FROM noisy
    ) WHERE rk <= 5
    """,
)
def q429_dp_exponential_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X359 — DIFFERENTIALLY-PRIVATE TOP-K via the EXPONENTIAL
    MECHANISM in its report-noisy-max-with-Gumbel form (McSherry &
    Talwar 2007; Durfee & Rogers 2019 proved Gumbel-noisy-argmax ≡
    exponential mechanism): release the k=5 hottest (event type ×
    weekday) cells with count utility, sensitivity 1, ε=1 — each
    cell's score is n·ε/(2Δ) plus Gumbel(0,1) noise −ln(−ln(u)), and
    only the RANKING is released (a real deployment withholds the raw
    counts; the catalog publishes the noisy scores, which are safe to
    release under the same ε). Completes the local-DP randomized
    response (q398) and central-DP Laplace histogram (q196) with the
    selection-query mechanism — the three canonical DP release
    primitives. Noise is hash-seeded ((v52+1)/2^52 keeps u in (0,1),
    so the double-log never sees 0) and shared-text, making the
    randomized release reproducible across engines.

    Scale: one map-side-combinable aggregate to the bounded cell
    grain; the noisy argmax is a window over ≤|types|·7 rows."""
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", (F.dayofweek(F.to_date("ts")) - 1).cast("long").alias("wd")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    seeded = cells.withColumn(
        "u",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_type"),
                            F.lit(":"),
                            F.col("wd").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            + 1.0
        )
        / 4503599627370497.0,
    )
    noisy = seeded.withColumn(
        "noisy_score", F.expr("n / 2.0 - LN(-LN(u))")
    )
    return (
        noisy.select(
            "*",
            F.row_number()
            .over(Window.orderBy(F.desc("noisy_score"), "event_type", "wd"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 5)
        .select(
            F.col("rk").cast("long").alias("rank"),
            "event_type",
            F.col("wd").cast("long").alias("weekday"),
            F.round("noisy_score", 6).alias("noisy_score"),
        )
    )



@register(
    "q436_youden_threshold",
    allow_non_equi=(
        "one 1-row positive/negative total aggregate crossJoin-attached "
        "onto the score-grain prefix table"
    ),
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
                  AS BIGINT) % 12
               + CASE WHEN event_type = 'purchase' THEN 8 ELSE 0 END AS s
      FROM events
    ), g AS (
      SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY s
    ), tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS p,
             CAST(SUM(n - pos) AS BIGINT) AS neg
      FROM g
    ), pre AS (
      SELECT s,
             CAST(SUM(pos) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
             CAST(SUM(n - pos) OVER (ORDER BY s DESC) AS BIGINT) AS fp
      FROM g
    ), j AS (
      SELECT pre.s AS threshold, pre.tp, pre.fp, tot.p, tot.neg,
             (pre.tp * 1000000) // tot.p
               - (pre.fp * 1000000) // tot.neg AS j_e6
      FROM pre, tot
    )
    SELECT threshold, tp, fp,
           ROUND(CAST(tp AS DOUBLE) / p, 6) AS tpr,
           ROUND(CAST(fp AS DOUBLE) / neg, 6) AS fpr,
           ROUND(CAST(j_e6 AS DOUBLE) / 1e6, 6) AS youden_j,
           CAST(CASE WHEN j_e6 = (SELECT MAX(j_e6) FROM j)
                      AND threshold = (SELECT MIN(threshold) FROM j j2
                                       WHERE j2.j_e6 =
                                             (SELECT MAX(j_e6) FROM j))
                     THEN 1 ELSE 0 END AS BIGINT) AS is_optimal
    FROM j
    """,
)
def q436_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X366 — OPTIMAL CLASSIFICATION THRESHOLD by Youden's J
    (J = TPR − FPR, the ROC point farthest from chance; Youden 1950):
    the operating-point DECISION that q220's ROC-AUC (a ranking
    summary) and q229's calibration bins (probability quality) both
    stop short of — given a score, where do you actually cut? The
    score-descending prefix scan at SCORE grain yields each
    threshold's exact confusion counts; J quantizes to ppm by integer
    floor division so the argmax row (lowest optimal threshold on
    ties) is engine-exact, flagged in-line via is_optimal.

    Scale: one score-grain aggregate + one ordered prefix scan over
    the bounded score support; totals attach as a 1-row broadcast."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 13),
                16,
                10,
            ).cast("long")
            % 12
            + F.when(F.col("event_type") == "purchase", 8).otherwise(0)
        ).alias("s"),
    )
    g = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    tot = g.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum(F.col("n") - F.col("pos")).cast("long").alias("neg"),
    )
    wdesc = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = g.select(
        "s",
        F.sum("pos").over(wdesc).cast("long").alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(wdesc).cast("long").alias("fp"),
    )
    j = pre.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("threshold"),
        "tp",
        "fp",
        "p",
        "neg",
        F.expr("(tp * 1000000) DIV p - (fp * 1000000) DIV neg").alias("j_e6"),
    )
    best = j.agg(F.max("j_e6").alias("best_j"))
    best_t = (
        j.crossJoin(F.broadcast(best))
        .filter(F.col("j_e6") == F.col("best_j"))
        .agg(F.min("threshold").alias("best_t"))
    )
    return (
        j.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(best_t))
        .select(
            "threshold",
            "tp",
            "fp",
            F.round(F.col("tp").cast("double") / F.col("p"), 6).alias("tpr"),
            F.round(F.col("fp").cast("double") / F.col("neg"), 6).alias("fpr"),
            F.round(F.col("j_e6").cast("double") / 1e6, 6).alias("youden_j"),
            F.when(
                (F.col("j_e6") == F.col("best_j"))
                & (F.col("threshold") == F.col("best_t")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_optimal"),
        )
    )



@register(
    "q437_brier_decomposition",
    allow_non_equi=(
        "one 1-row base-rate aggregate crossJoin-attached onto the "
        "20-row probability-bin table"
    ),
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 13))
                   AS BIGINT) % 12
              + CASE WHEN event_type = 'purchase' THEN 8 ELSE 0 END) AS bin
      FROM events
    ), b AS (
      SELECT bin,
             (bin * 1000000) // 19 AS fc_e6,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM scored GROUP BY bin
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(pos) AS BIGINT) AS np
      FROM b
    ), terms AS (
      SELECT b.bin, b.fc_e6, b.n, b.pos, tot.nn, tot.np,
             (b.pos * 1000000) // b.n AS ob_e6,
             b.n * ((b.fc_e6 - (b.pos * 1000000) // b.n)
                    * (b.fc_e6 - (b.pos * 1000000) // b.n)) AS rel_t,
             b.n * (((b.pos * 1000000) // b.n - (tot.np * 1000000) // tot.nn)
                    * ((b.pos * 1000000) // b.n
                       - (tot.np * 1000000) // tot.nn)) AS res_t
      FROM b, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           ROUND(CAST(SUM(rel_t) AS DOUBLE) / MAX(nn) / 1e12, 6)
             AS reliability,
           ROUND(CAST(SUM(res_t) AS DOUBLE) / MAX(nn) / 1e12, 6)
             AS resolution,
           ROUND((CAST(MAX(np) AS DOUBLE) / MAX(nn))
                 * (1.0 - CAST(MAX(np) AS DOUBLE) / MAX(nn)), 6)
             AS uncertainty,
           ROUND(CAST(SUM(rel_t) AS DOUBLE) / MAX(nn) / 1e12
                 - CAST(SUM(res_t) AS DOUBLE) / MAX(nn) / 1e12
                 + (CAST(MAX(np) AS DOUBLE) / MAX(nn))
                   * (1.0 - CAST(MAX(np) AS DOUBLE) / MAX(nn)), 6)
             AS brier_score
    FROM terms
    """,
)
def q437_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X367 — MURPHY DECOMPOSITION of the Brier score (Murphy 1973):
    Brier = reliability − resolution + uncertainty, computed at
    forecast-bin grain over the q410/q417 score bins (forecast
    probability = bin/19): reliability penalizes miscalibration
    (calibration curves fix it — q410/q417 are the repairs),
    resolution rewards forecasts that separate outcomes, uncertainty
    is the base-rate floor no forecaster can beat. This explains WHY
    a Brier number is what it is — the diagnosis layer q229's ECE
    (calibration-only) doesn't give. Bin forecasts and observed rates
    quantize to ppm integers, so the three components fold from
    exact int64 weighted squares in any aggregation order.

    Scale: one bin-grain aggregate, a 1-row base-rate attach, a
    1-row fold."""
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        (
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 13),
                16,
                10,
            ).cast("long")
            % 12
            + F.when(F.col("event_type") == "purchase", 8).otherwise(0)
        ).alias("bin"),
    )
    b = scored.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    ).withColumn("fc_e6", F.expr("(bin * 1000000) DIV 19"))
    tot = b.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("pos").cast("long").alias("np"),
    )
    terms = b.crossJoin(F.broadcast(tot)).select(
        "n",
        "nn",
        "np",
        F.expr(
            "n * ((fc_e6 - (pos * 1000000) DIV n)"
            " * (fc_e6 - (pos * 1000000) DIV n))"
        ).alias("rel_t"),
        F.expr(
            "n * (((pos * 1000000) DIV n - (np * 1000000) DIV nn)"
            " * ((pos * 1000000) DIV n - (np * 1000000) DIV nn))"
        ).alias("res_t"),
    )
    unc = (
        F.col("np").cast("double")
        / F.col("nn")
        * (1.0 - F.col("np").cast("double") / F.col("nn"))
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.round(F.sum("rel_t").cast("double") / F.max("nn") / 1e12, 6).alias(
            "reliability"
        ),
        F.round(F.sum("res_t").cast("double") / F.max("nn") / 1e12, 6).alias(
            "resolution"
        ),
        F.round(
            (F.max("np").cast("double") / F.max("nn"))
            * (1.0 - F.max("np").cast("double") / F.max("nn")),
            6,
        ).alias("uncertainty"),
        F.round(
            F.sum("rel_t").cast("double") / F.max("nn") / 1e12
            - F.sum("res_t").cast("double") / F.max("nn") / 1e12
            + (F.max("np").cast("double") / F.max("nn"))
            * (1.0 - F.max("np").cast("double") / F.max("nn")),
            6,
        ).alias("brier_score"),
    )



@register(
    "q438_effect_sizes",
    oracle="""
    WITH u AS (
      SELECT event_type,
             CAST(user_id % 2 AS BIGINT) AS variant,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), m AS (
      SELECT event_type, variant,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(vc) AS BIGINT) AS s,
             CAST(SUM(vc * vc) AS BIGINT) AS s2
      FROM u GROUP BY event_type, variant
    ), wide AS (
      SELECT a.event_type,
             a.n AS n1, a.s AS s1, a.s2 AS q1,
             b.n AS n0, b.s AS s0, b.s2 AS q0
      FROM (SELECT * FROM m WHERE variant = 1) a
      JOIN (SELECT * FROM m WHERE variant = 0) b USING (event_type)
    ), stat AS (
      SELECT event_type, n1, n0,
             CAST(s1 AS DOUBLE) / n1 - CAST(s0 AS DOUBLE) / n0 AS diff,
             SQRT((
               (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n1)
               + (CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * s0 / n0)
             ) / (n1 + n0 - 2)) AS sp
      FROM wide
    )
    SELECT event_type, n1, n0,
           ROUND(diff, 6) AS mean_diff_cents,
           ROUND(diff / sp, 6) AS cohens_d,
           ROUND((diff / sp)
                 * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)), 6) AS hedges_g,
           ROUND((diff / sp)
                 / SQRT((diff / sp) * (diff / sp) + 4.0), 6)
             AS rank_biserial_approx
    FROM stat
    """,
)
def q438_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X368 — STANDARDIZED EFFECT SIZES per metric slice: Cohen's d
    from the pooled SD, the Hedges' g small-sample correction
    (1 − 3/(4N−9)), and the d→r rank-biserial approximation — the
    practical-significance layer the A/B family (q226 z, q315 CUPED,
    q405 mSPRT) reports NEXT TO p-values, because at corpus scale
    everything is statistically significant and only effect size says
    whether it matters. Moments are exact int64 cents (sums and sums
    of squares); each published statistic is a single shared-text
    float expression over those integers.

    Scale: one (type, variant) aggregate with map-side combine; the
    pivot joins two 5-row sides."""
    ev = load(spark, sf_dir, "events")
    u = ev.select(
        "event_type",
        (F.col("user_id") % 2).cast("long").alias("variant"),
        cents(F.col("value")).alias("vc"),
    )
    m = u.groupBy("event_type", "variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("vc").cast("long").alias("s"),
        F.sum(F.col("vc") * F.col("vc")).cast("long").alias("s2"),
    )
    a = m.filter(F.col("variant") == 1).select(
        "event_type",
        F.col("n").alias("n1"),
        F.col("s").alias("s1"),
        F.col("s2").alias("q1"),
    )
    b = m.filter(F.col("variant") == 0).select(
        "event_type",
        F.col("n").alias("n0"),
        F.col("s").alias("s0"),
        F.col("s2").alias("q0"),
    )
    stat = a.join(b, "event_type").select(
        "event_type",
        "n1",
        "n0",
        (
            F.col("s1").cast("double") / F.col("n1")
            - F.col("s0").cast("double") / F.col("n0")
        ).alias("diff"),
        F.sqrt(
            (
                (F.col("q1").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n1"))
                + (F.col("q0").cast("double") - F.col("s0").cast("double") * F.col("s0") / F.col("n0"))
            )
            / (F.col("n1") + F.col("n0") - 2)
        ).alias("sp"),
    )
    d = F.col("diff") / F.col("sp")
    return stat.select(
        "event_type",
        "n1",
        "n0",
        F.round("diff", 6).alias("mean_diff_cents"),
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1.0 - 3.0 / (4.0 * (F.col("n1") + F.col("n0")) - 9.0)), 6
        ).alias("hedges_g"),
        F.round(d / F.sqrt(d * d + 4.0), 6).alias("rank_biserial_approx"),
    )



@register(
    "q445_wilson_intervals",
    oracle="""
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN CAST(ROUND(value * 100) AS BIGINT) >= 5000
                           THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM events GROUP BY event_type
    ), w AS (
      SELECT event_type, n, k,
             CAST(k AS DOUBLE) / n AS p,
             1.959963985 AS z
      FROM s
    )
    SELECT event_type, n, k,
           ROUND(p, 6) AS p_hat,
           ROUND((p + z * z / (2.0 * n)
                  - z * SQRT(p * (1.0 - p) / n
                             + z * z / (4.0 * CAST(n AS DOUBLE) * n)))
                 / (1.0 + z * z / n), 6) AS wilson_lo,
           ROUND((p + z * z / (2.0 * n)
                  + z * SQRT(p * (1.0 - p) / n
                             + z * z / (4.0 * CAST(n AS DOUBLE) * n)))
                 / (1.0 + z * z / n), 6) AS wilson_hi,
           ROUND(p - z * SQRT(p * (1.0 - p) / n), 6) AS wald_lo,
           ROUND(p + z * SQRT(p * (1.0 - p) / n), 6) AS wald_hi
    FROM w
    """,
)
def q445_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X375 — WILSON SCORE INTERVALS (Wilson 1927) for per-type
    high-value-event proportions, published against the naive Wald
    interval: Wilson never leaves [0,1], stays honest at extreme p
    and small n where Wald collapses (p̂=0 → Wald says exactly 0), and
    is what ranking-by-lower-bound item scoring uses. Completes the
    uncertainty family — q233 conformal (distribution-free
    prediction), q402 bootstrap (resampling), q411 jackknife
    (cluster-robust) — with the closed-form analytic interval for
    proportions. Counts are exact int64; the interval is one shared-
    text float expression per row (z = 1.959963985 literal, so no
    inverse-CDF is ever evaluated).

    Scale: one map-side-combinable aggregate to type grain; rowwise
    closed forms after."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(cents(F.col("value")) >= 5000, 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    w = s.withColumn("p", F.col("k").cast("double") / F.col("n")).withColumn(
        "z", F.lit(1.959963985)
    )
    wilson_lo = F.expr(
        "(p + z * z / (2.0 * n)"
        " - z * SQRT(p * (1.0 - p) / n"
        " + z * z / (4.0 * CAST(n AS DOUBLE) * n)))"
        " / (1.0 + z * z / n)"
    )
    wilson_hi = F.expr(
        "(p + z * z / (2.0 * n)"
        " + z * SQRT(p * (1.0 - p) / n"
        " + z * z / (4.0 * CAST(n AS DOUBLE) * n)))"
        " / (1.0 + z * z / n)"
    )
    return w.select(
        "event_type",
        "n",
        "k",
        F.round("p", 6).alias("p_hat"),
        F.round(wilson_lo, 6).alias("wilson_lo"),
        F.round(wilson_hi, 6).alias("wilson_hi"),
        F.round(
            F.expr("p - z * SQRT(p * (1.0 - p) / n)"), 6
        ).alias("wald_lo"),
        F.round(
            F.expr("p + z * SQRT(p * (1.0 - p) / n)"), 6
        ).alias("wald_hi"),
    )




@register(
    "q456_negbin_moments_fit",
    oracle="""
    WITH dc AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY event_type, day
    ), m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS g,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS s2
      FROM dc GROUP BY event_type
    ), mv AS (
      SELECT event_type, g,
             CAST(s AS DOUBLE) / g AS mean,
             (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / g)
               / (g - 1) AS var
      FROM m
    )
    SELECT event_type,
           g AS n_days,
           ROUND(mean, 6) AS mean_daily,
           ROUND(var, 6) AS var_daily,
           CASE WHEN var > mean THEN ROUND(mean * mean / (var - mean), 6)
                ELSE NULL END AS nb_r,
           CASE WHEN var > mean THEN ROUND(mean / var, 6)
                ELSE NULL END AS nb_p,
           CASE WHEN var > mean
                THEN ROUND(POW(mean / var,
                               mean * mean / (var - mean)), 6)
                ELSE NULL END AS nb_p_zero
    FROM mv
    """,
)
def q456_negbin_moments_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X386 — NEGATIVE-BINOMIAL METHOD-OF-MOMENTS FIT of daily event
    counts per type: when q426's dispersion test rejects Poisson, this
    is the next model a capacity planner fits — NB(r, p) with
    r = m²/(v−m), p = m/v (MoM closed forms; Lawless 1987), plus the
    fitted zero-day probability p^r that calibrates "how often do we
    expect a silent day?" alerting thresholds. Overdispersion is the
    NORM for bursty telemetry, so the Poisson-rate capacity math
    underprovisions tails; the NB fit prices them. Moments come from
    the same exact integer (count, sum, sum-of-squares) aggregates as
    q426 — the two queries share one shape, test then fit. Types with
    v ≤ m publish NULL fits (NB degenerate there) rather than a
    garbage negative r, on both engines.

    Scale: one (type, day) aggregate + one type-grain reduce."""
    ev = load(spark, sf_dir, "events")
    dc = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    m = dc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
    )
    mv = m.select(
        "event_type",
        "g",
        (F.col("s").cast("double") / F.col("g")).alias("mean"),
        (
            (
                F.col("s2").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("g")
            )
            / (F.col("g") - 1)
        ).alias("var"),
    )
    over = F.col("var") > F.col("mean")
    nb_r = F.col("mean") * F.col("mean") / (F.col("var") - F.col("mean"))
    return mv.select(
        "event_type",
        F.col("g").alias("n_days"),
        F.round("mean", 6).alias("mean_daily"),
        F.round("var", 6).alias("var_daily"),
        F.when(over, F.round(nb_r, 6)).alias("nb_r"),
        F.when(over, F.round(F.col("mean") / F.col("var"), 6)).alias("nb_p"),
        F.when(
            over,
            F.round(F.pow(F.col("mean") / F.col("var"), nb_r), 6),
        ).alias("nb_p_zero"),
    )


@register(
    "q457_cooks_distance",
    oracle="""
    WITH d AS (
      SELECT user_id,
             CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY user_id, CAST(ts AS DATE)
    ), m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM d GROUP BY user_id
      HAVING COUNT(*) >= 8
    ), fit AS (
      SELECT user_id, n, sx, sy, sxx,
             CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxx_c,
             (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
               / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS beta,
             CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syy_c,
             CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxy_c
      FROM m
    ), rowstat AS (
      SELECT d.user_id, d.x, d.y, f.n,
             CAST(d.y AS DOUBLE)
               - ((CAST(f.sy AS DOUBLE) - f.beta * f.sx) / f.n
                  + f.beta * d.x) AS e,
             1.0 / f.n
               + (CAST(d.x AS DOUBLE) - CAST(f.sx AS DOUBLE) / f.n)
                 * (CAST(d.x AS DOUBLE) - CAST(f.sx AS DOUBLE) / f.n)
                 / f.sxx_c AS h,
             (f.syy_c - f.beta * f.sxy_c) / (f.n - 2) AS s2
      FROM d JOIN fit f USING (user_id)
    ), cook AS (
      SELECT user_id, x, e, h, n,
             (e * e / (2.0 * GREATEST(s2, 1e-9)))
               * (h / ((1.0 - h) * (1.0 - h))) AS cooks_d
      FROM rowstat
    ), ranked AS (
      SELECT user_id, x, e, h, cooks_d,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY cooks_d DESC, x) AS rk
      FROM cook
    )
    SELECT user_id, x AS day_idx,
           ROUND(cooks_d, 6) AS cooks_d,
           ROUND(h, 6) AS leverage,
           ROUND(e, 4) AS residual_cents,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def q457_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X387 — COOK'S DISTANCE influence audit for the per-entity OLS
    trend (q130/q234's closed-form regression, now with the regression
    DIAGNOSTIC a forecaster needs before trusting the slope): for each
    user's daily-revenue-vs-time fit, which days singlehandedly steer
    the line? D_i = e_i²·h_i / (p·s²·(1−h_i)²) with p = 2, computed
    entirely from the exact integer moment vector (n, Σx, Σy, Σxx,
    Σxy, Σyy) — leverage, residual and s² are all closed forms over
    those moments, so every float expression is row-local
    identical-text arithmetic with NO float aggregation anywhere. Top-3
    per user by (D, day): the days to inspect for promo spikes / data
    glitches before shipping the q234 forecast.

    Scale: one (user, day) rollup, one user-grain moment reduce, one
    moment-broadcast join back to day rows, a partitioned top-3
    window. The moment relation is user-grain — tiny next to events."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("long")
        .alias("x"),
    ).agg(F.sum(cents(F.col("value"))).cast("long").alias("y"))
    m = (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
        .filter(F.col("n") >= 8)
    )
    fit = m.select(
        "user_id",
        "n",
        "sx",
        "sy",
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx") / F.col("n")
        ).alias("sxx_c"),
        (
            (
                F.col("n").cast("double") * F.col("sxy")
                - F.col("sx").cast("double") * F.col("sy")
            )
            / (
                F.col("n").cast("double") * F.col("sxx")
                - F.col("sx").cast("double") * F.col("sx")
            )
        ).alias("beta"),
        (
            F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy") / F.col("n")
        ).alias("syy_c"),
        (
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy") / F.col("n")
        ).alias("sxy_c"),
    )
    rowstat = d.join(F.broadcast(fit), "user_id").select(
        "user_id",
        "x",
        "n",
        (
            F.col("y").cast("double")
            - (
                (F.col("sy").cast("double") - F.col("beta") * F.col("sx"))
                / F.col("n")
                + F.col("beta") * F.col("x")
            )
        ).alias("e"),
        (
            1.0 / F.col("n")
            + (F.col("x").cast("double") - F.col("sx").cast("double") / F.col("n"))
            * (F.col("x").cast("double") - F.col("sx").cast("double") / F.col("n"))
            / F.col("sxx_c")
        ).alias("h"),
        (
            (F.col("syy_c") - F.col("beta") * F.col("sxy_c"))
            / (F.col("n") - 2)
        ).alias("s2"),
    )
    cook = rowstat.select(
        "user_id",
        "x",
        "e",
        "h",
        (
            (F.col("e") * F.col("e") / (2.0 * F.greatest(F.col("s2"), F.lit(1e-9))))
            * (F.col("h") / ((1.0 - F.col("h")) * (1.0 - F.col("h"))))
        ).alias("cooks_d"),
    )
    ranked = cook.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("cooks_d"), "x")
        ),
    ).filter(F.col("rk") <= 3)
    return ranked.select(
        "user_id",
        F.col("x").alias("day_idx"),
        F.round("cooks_d", 6).alias("cooks_d"),
        F.round("h", 6).alias("leverage"),
        F.round("e", 4).alias("residual_cents"),
        F.col("rk").cast("long").alias("rk"),
    )




@register(
    "q496_dp_budget_composition",
    oracle="""
    WITH spine AS (
      SELECT CAST(k AS BIGINT) AS k
      FROM (VALUES (1), (10), (100), (1000), (10000)) t(k)
    ), c AS (
      SELECT k,
             CAST(k AS DOUBLE) * 0.1 AS eps_basic,
             0.1 * SQRT(2.0 * k * ln(1000000.0))
               + k * 0.1 * (EXP(0.1) - 1.0) AS eps_advanced,
             k * 0.1 * 0.1 / 2.0 AS rho
      FROM spine
    )
    SELECT k AS n_queries,
           ROUND(eps_basic, 6) AS eps_basic,
           ROUND(eps_advanced, 6) AS eps_advanced,
           ROUND(rho + 2.0 * SQRT(rho * ln(1000000.0)), 6) AS eps_zcdp,
           CAST(CASE WHEN eps_advanced < eps_basic THEN 1 ELSE 0 END
                AS BIGINT) AS advanced_wins
    FROM c ORDER BY k
    """,
)
def q496_dp_budget_composition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X426 — DIFFERENTIAL-PRIVACY BUDGET COMPOSITION PLANNER: total ε
    at δ=10⁻⁶ after k ε₀=0.1 releases under (a) basic composition kε₀,
    (b) advanced composition ε₀√(2k·ln(1/δ)) + kε₀(e^{ε₀}−1)
    (Dwork–Roth Thm 3.20), and (c) zCDP accounting ρ=kε₀²/2 →
    ρ + 2√(ρ·ln(1/δ)) — the accountant table that tells the privacy
    shelf's release queries (q196 Laplace, q398 randomized response,
    q429 exponential mechanism) how many runs a budget actually buys,
    and WHERE advanced composition starts beating basic
    (advanced_wins flips at k≈100 for these constants). Third
    engine-design-as-a-query member after q485/q488.

    Scale: a 5-row literal spine — constant."""
    spine = spark.range(1).select(
        F.explode(
            F.array(
                *[F.lit(v).cast("long") for v in (1, 10, 100, 1000, 10000)]
            )
        ).alias("k")
    )
    c = (
        spine.withColumn("eps_basic", F.expr("k * 0.1D"))
        .withColumn(
            "eps_advanced",
            F.expr(
                "0.1 * SQRT(2.0 * k * ln(1000000.0))"
                " + k * 0.1 * (EXP(0.1) - 1.0)"
            ),
        )
        .withColumn("rho", F.expr("k * 0.1 * 0.1 / 2.0"))
    )
    return c.select(
        F.col("k").alias("n_queries"),
        F.round("eps_basic", 6).alias("eps_basic"),
        F.round("eps_advanced", 6).alias("eps_advanced"),
        F.round(
            F.expr("rho + 2.0 * SQRT(rho * ln(1000000.0))"), 6
        ).alias("eps_zcdp"),
        F.when(F.col("eps_advanced") < F.col("eps_basic"), 1)
        .otherwise(0)
        .cast("long")
        .alias("advanced_wins"),
    ).orderBy("n_queries")


@register(
    "q511_siegel_repeated_medians",
    allow_non_equi=(
        "deliberate |days|^2 theta self-join ON THE DAY ROLLUP "
        "(dimension-sized pair spine, the q248 Theil-Sen pattern) + "
        "1-row scalar assembly"
    ),
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), slopes AS (
      SELECT a.d AS di, b.d AS dj,
             CAST(b.y - a.y AS DOUBLE)
               / date_diff('day', a.d, b.d) AS s
      FROM daily a JOIN daily b ON b.d <> a.d
    ), ranked AS (
      SELECT di, s,
             ROW_NUMBER() OVER (PARTITION BY di ORDER BY s, dj) AS rn,
             COUNT(*) OVER (PARTITION BY di) AS c
      FROM slopes
    ), med_i AS (
      SELECT di, AVG(s) AS med
      FROM ranked
      WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1
      GROUP BY di
    ), outer_ranked AS (
      SELECT med,
             ROW_NUMBER() OVER (ORDER BY med, di) AS rn,
             COUNT(*) OVER () AS c
      FROM med_i
    ), fin AS (
      SELECT AVG(med) AS slope FROM outer_ranked
      WHERE rn = (c + 1) // 2 OR rn = c // 2 + 1
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
    SELECT n.n_days, ROUND(fin.slope, 6) AS siegel_slope_per_day
    FROM fin CROSS JOIN n
    """,
)
def q511_siegel_repeated_medians(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X439 — SIEGEL REPEATED-MEDIANS slope of the daily event-count
    series: slope = median_i( median_{j≠i} (y_j−y_i)/(d_j−d_i) ). The
    maximum-breakdown (50%) robust trend line — Theil–Sen (q248, 29.3%
    breakdown) still bends once a third of the days are corrupted
    (outage backfills, logging bugs); the repeated-median inner step
    gives every single day its own median slope first, so up to HALF
    the days can be arbitrarily bad before the estimate moves.

    Both median layers avoid engine median()/percentile() semantics
    entirely (interpolation rules differ): each is an explicit
    order-statistic pick — ROW_NUMBER over (value, tiebreak), take the
    middle one or two positions, AVG of ≤2 doubles — identical text in
    both engines. Slope values are single divisions of exact integer
    deltas.

    Scale: the |days|² spine rides the DAY rollup (the q248/q249
    adjudication — dimension-sized, never raw events); the inner median
    is one |days|-partition rank window."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.d") != F.col("a.d")).select(
        F.col("a.d").alias("di"),
        F.col("b.d").alias("dj"),
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / F.datediff(F.col("b.d"), F.col("a.d"))
        ).alias("s"),
    )
    wi = Window.partitionBy("di").orderBy("s", "dj")
    ranked = slopes.select(
        "di",
        "s",
        F.row_number().over(wi).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("di")).alias("c"),
    )
    med_i = (
        ranked.where(
            (F.col("rn") == F.expr("(c + 1) DIV 2"))
            | (F.col("rn") == F.expr("c DIV 2 + 1"))
        )
        .groupBy("di")
        .agg(F.avg("s").alias("med"))
    )
    wo = Window.orderBy("med", "di")
    outer_ranked = med_i.select(
        "med",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("c"),
    )
    fin = outer_ranked.where(
        (F.col("rn") == F.expr("(c + 1) DIV 2"))
        | (F.col("rn") == F.expr("c DIV 2 + 1"))
    ).agg(F.avg("med").alias("slope"))
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return fin.crossJoin(F.broadcast(n)).select(
        "n_days", F.round("slope", 6).alias("siegel_slope_per_day")
    )
