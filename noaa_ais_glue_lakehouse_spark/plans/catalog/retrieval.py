"""Embedding similarity / ANN / PQ / ranked retrieval and their recall audits.

Moved verbatim from the single-file catalog in the round-8 package
split; see _shared for the helpers and _registry for the decorator.
"""

from noaa_ais_glue_lakehouse_spark.plans.catalog._registry import (  # noqa: F401
    get_query,
    register,
)
from noaa_ais_glue_lakehouse_spark.plans.catalog._shared import *  # noqa: F401,F403


@register("q32_cosine_topk", allow_non_equi="broadcast-cross-join top-k whose query side is bounded by construction (the query set broadcasts; corpus side is linear)", oracle=_COSINE_ORACLE)
def q32_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: queries broadcast against the
    corpus, native zip_with/aggregate dot products, deterministic ranks.
    """
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return brute_force_topk(emb, queries_df, id_col="vec_id", vec_col="embedding", k=5)



@register("q33_ann_lsh_topk")  # rows-only: approximate by design
def q33_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (the scale path). Recall vs the exact
    baseline is asserted in tests/test_similarity.py; the hash-gated
    twin of this SERVING SHAPE (multi-table buckets → candidate union →
    exact scoring → deterministic top-k) is q474_lsh_topk_portable —
    same grain, portable plane family, full DuckDB oracle.
    """
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    return lsh_bucket_topk(
        emb, queries_df, dim=64, id_col="vec_id", vec_col="embedding", k=5, n_planes=8
    )


# ---------------------------------------------------------------------------
# Set ops, running windows, distinct enumeration (U1, W3-general, A6)
# ---------------------------------------------------------------------------



@register("q55_ivf_topk", build_time_exec="driver-side work at plan-build time; plan pinned by its own recall/oracle tests")  # rows-only: k-means assignment not SQL-expressible
def q55_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (coarse k-means quantizer + probed exact
    scoring) — the inverted-file alternative to the q33 LSH path; recall
    vs brute force asserted in tests/test_similarity.py. The hash-gated
    twin of this SERVING SHAPE (coarse assign → probe list → exact
    scoring → deterministic top-k) is q475_ivf_topk_portable — same
    grain, portable coarse quantizer, full DuckDB oracle."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(10)
    return ivf_topk(emb, queries, dim=64, k=5)



@register(
    "q81_user_value_ranks",
    oracle="""
    WITH totals AS (
      SELECT event_type, user_id,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS total_cents
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id,
           CAST(total_cents AS BIGINT) AS total_cents,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume
    FROM totals
    WINDOW w AS (PARTITION BY event_type ORDER BY total_cents DESC, user_id)
    """,
)
def q81_user_value_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-analytics family in one pass: row_number / ntile / percent_rank
    / cume_dist over a per-type leaderboard. The user_id tiebreak makes the
    order total, so every rank function is deterministic cross-engine. Agg
    and all four window functions share the event_type partitioning."""
    ev = load(spark, sf_dir, "events")
    totals = ev.groupBy("event_type", "user_id").agg(
        F.sum(cents(F.col("value"))).alias("total_cents")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("total_cents"), "user_id")
    return totals.select(
        "event_type",
        "user_id",
        "total_cents",
        F.row_number().over(w).cast("long").alias("rn"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )



@register(
    "q104_quantize_embeddings",
    oracle="""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM v
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           array_to_string(
             list_transform(e, x -> CAST(CAST(ROUND(x / scale) AS INTEGER) AS VARCHAR)),
             ',') AS q_csv,
           CAST(len(list_filter(e, x -> CAST(ROUND(abs(x) / scale) AS INTEGER) = 127))
                AS BIGINT) AS n_saturated
    FROM s WHERE scale > 0
    """,
)
def q104_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization — the 4× storage/bandwidth
    reduction step an embedding lakehouse applies before ANN serving:
    per-vector scale = max|v|/127, q_i = round(v_i/scale) ∈ [-127, 127].
    Pure array expressions (transform/array_max — JVM-side, no UDF); the
    full quantized vector is value-checked via its CSV rendering, so the
    oracle pins every element, not a summary. Row-local: no shuffle.
    Zero vectors (scale 0) are excluded on both sides."""
    emb = load(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    df = emb.select("vec_id", e.alias("_e")).withColumn(
        "_scale", F.array_max(F.transform("_e", F.abs)) / F.lit(127.0)
    )
    q = F.transform("_e", lambda x: F.round(x / F.col("_scale")).cast("int"))
    sat = F.size(
        F.filter(
            "_e", lambda x: F.round(F.abs(x) / F.col("_scale")).cast("int") == 127
        )
    ).cast("long")
    return df.filter(F.col("_scale") > 0).select(
        "vec_id",
        F.round("_scale", 6).alias("scale"),
        F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("q_csv"),
        sat.alias("n_saturated"),
    )



@register(
    "q124_udtf_chunks",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, toks,
             unnest(range(0, len(toks), 24)) AS s
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           CAST(s / 24 AS INT) AS chunk_idx,
           array_to_string(toks[s + 1 : s + 32], ' ') AS chunk_text,
           CAST(LEAST(32, len(toks) - s) AS INT) AS n_tokens
    FROM c
    """,
)
def q124_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (§2.10): overlapping 32-token / stride-24
    document chunking — the RAG/embedding-index prep step — as a
    registered table function consumed with LATERAL. The oracle expands
    the identical windows natively, so the UDTF's row expansion is
    hash-checked, not just counted. Deliberately the one row-at-a-time
    Python operator in the catalog: it demonstrates the API, and its
    docstring (functions/text.py chunk_udtf) points hot paths at the
    native sequence/slice form instead."""
    from noaa_ais_glue_lakehouse_spark.functions.text import chunk_udtf

    spark.udtf.register("q124_chunks", chunk_udtf(32, 24))
    docs = load(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("q124_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens
        FROM q124_docs d, LATERAL q124_chunks(d.text) c
        """
    )



@register(
    "q156_embedding_dim_stats",
    oracle="""
    WITH e AS (
      SELECT UNNEST(range(len(embedding))) AS dim,
             -- cast BEFORE the multiply: DuckDB would otherwise compute
             -- float32 * int in float32, rounding differently from the
             -- Spark side's float->double->multiply path
             CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*), 6) AS mean_micro,
           ROUND(SQRT(GREATEST(
             (CAST(SUM(CAST(q AS HUGEINT) * q) AS DOUBLE)
              - CAST(SUM(q) AS DOUBLE) * CAST(SUM(q) AS DOUBLE) / COUNT(*))
             / COUNT(*), 0)), 6) AS std_micro
    FROM e GROUP BY dim
    """,
)
def q156_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column — the
    mean/std a whitening or PCA-prep step needs before similarity work
    (a dimension with near-zero variance is dead weight in every cosine).
    posexplode turns vectors into (dim, component) rows; components are
    quantized to exact integer micro-units so the sums are
    order-independent, the square-sums accumulate in DECIMAL(38,0)
    (HUGEINT on the oracle side) to dodge 64-bit overflow at corpus
    scale, and mean/std are derived from those exact moments at the end.
    One explode + one hash-shuffle on dim (64 keys); partial aggregation
    reduces each partition to |dims| rows before the exchange, so at
    100 TB the shuffle moves kilobytes."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("q"),
    )
    s_d = F.sum("q").cast("double")
    sq_d = F.sum(F.col("q").cast("decimal(38,0)") * F.col("q")).cast("double")
    n = F.count(F.lit(1))
    return e.groupBy("dim").agg(
        n.cast("long").alias("n"),
        F.round(s_d / n, 6).alias("mean_micro"),
        F.round(
            F.sqrt(F.greatest((sq_d - s_d * s_d / n) / n, F.lit(0.0))), 6
        ).alias("std_micro"),
    )



@register(
    "q159_label_centroid_dist",
    oracle="""
    WITH e AS (
      SELECT label, UNNEST(range(len(embedding))) AS dim,
             CAST(ROUND(CAST(UNNEST(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings
    ), cent AS (
      SELECT label, dim,
             CAST(ROUND(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cm
      FROM e GROUP BY label, dim
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(SQRT(CAST(SUM((a.cm - b.cm) * (a.cm - b.cm)) AS DOUBLE)),
                 6) AS dist_micro
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY a.label, b.label
    """,
)
def q159_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise L2 distances between per-label embedding centroids — the
    class-separation diagnostic behind SemDeDup-style semantic dedup
    (q64) and stratified mixture design (q105): labels whose centroids
    nearly coincide are candidates for merging or re-labeling. Centroid
    components are rounded to exact integer micro-units at the reduce, so
    the pairwise stage is pure integer arithmetic until the final sqrt.
    Scale shape: the only corpus-sized stage is the (label, dim) partial
    aggregate — map-side combine reduces each partition to
    |labels|x|dims| rows before the shuffle; the self-join runs on that
    tiny centroid table (|labels|x|dims| rows), never on the corpus."""
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("x").cast("double") * 1000000).cast("long").alias("q"),
    )
    cent = e.groupBy("label", "dim").agg(
        F.round(F.sum("q").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("cm")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("cm").alias("cm_a")
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        F.col("dim").alias("dim_b"),
        F.col("cm").alias("cm_b"),
    )
    d = F.col("cm_a") - F.col("cm_b")
    return (
        a.join(
            b,
            (F.col("dim") == F.col("dim_b"))
            & (F.col("label_a") < F.col("label_b")),
        )
        .groupBy("label_a", "label_b")
        .agg(
            F.round(F.sqrt(F.sum(d * d).cast("double")), 6).alias(
                "dist_micro"
            )
        )
    )



@register(
    "q160_inverted_index",
    oracle="""
    WITH t AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ), g AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS df,
             (list_sort(list(doc_id)))[1:20] AS postings
      FROM t GROUP BY tok
    )
    SELECT tok, df, postings FROM g ORDER BY df DESC, tok LIMIT 50
    """,
)
def q160_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> document-frequency + (capped,
    sorted) posting list, top-50 tokens by df — the keyword-search /
    corpus-exploration structure a curation team queries to find "all
    docs mentioning X" without a rescan. (doc, token) pairs are
    DISTINCTed before the index reduce (presence, not term frequency —
    q92's TF-IDF covers weighting), posting lists are built with
    collect_set + sort_array and capped with slice() so a stopword's
    postings can't blow up a reduce task; df keeps the full count.
    Map-side combine on the distinct + count; top-k is a TakeOrdered,
    no global sort. At 100 TB the cap is what makes the reduce safe —
    uncapped boilerplate-token postings are the classic index hot key."""
    docs = load(spark, sf_dir, "documents")
    t = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .distinct()
    )
    g = t.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.slice(F.sort_array(F.collect_set("doc_id")), 1, 20).alias(
            "postings"
        ),
    )
    return g.orderBy(F.desc("df"), "tok").limit(50)



@register(
    "q165_embedding_norm_audit",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross joins: the (mean, std) moment scalar attached to the row-local norm projection, and the 1-row outlier count attached to the 1-row stats report",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             CAST(ROUND(SQRT(CAST(list_sum(list_transform(
               list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),
               q -> q * q)) AS DOUBLE))) AS BIGINT) AS norm_micro
      FROM embeddings
    ), m AS (
      SELECT COUNT(*) AS n, SUM(norm_micro) AS s,
             SUM(CAST(norm_micro AS HUGEINT) * norm_micro) AS sq
      FROM v
    )
    SELECT CAST(m.n AS BIGINT) AS n_vecs,
           ROUND(CAST(m.s AS DOUBLE) / m.n, 6) AS mean_norm_micro,
           ROUND(SQRT(GREATEST(
             (CAST(m.sq AS DOUBLE) - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE)
              / m.n) / m.n, 0)), 6) AS std_norm_micro,
           CAST((SELECT COUNT(*) FROM v, m
                 WHERE ABS(CAST(v.norm_micro AS DOUBLE)
                           - CAST(m.s AS DOUBLE) / m.n)
                       > 3 * SQRT(GREATEST(
                           (CAST(m.sq AS DOUBLE)
                            - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE) / m.n)
                           / m.n, 0))) AS BIGINT) AS n_outliers_3sigma
    FROM m
    """,
)
def q165_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm audit: the L2-norm distribution of the corpus
    vectors plus a 3-sigma outlier count — the first sanity check on any
    embedding drop (a cluster of near-zero or huge norms means a broken
    encoder batch; cosine pipelines silently degrade on them). Norms are
    computed row-local from integer micro components (one array fold, no
    shuffle), quantized to integer micro-units so the moment sums are
    exact, and the outlier pass re-uses the same tiny (n, s, sq) scalar
    via a broadcast — two scans of a row-local projection, zero
    corpus-sized shuffles; the only reduce carries three numbers."""
    emb = load(spark, sf_dir, "embeddings")
    q = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000000).cast("long"),
    )
    v = emb.select(
        "vec_id",
        F.round(
            F.sqrt(
                F.aggregate(
                    q, F.lit(0).cast("long"), lambda acc, x: acc + x * x
                ).cast("double")
            )
        )
        .cast("long")
        .alias("norm_micro"),
    )
    m = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("norm_micro").alias("s"),
        F.sum(
            F.col("norm_micro").cast("decimal(38,0)") * F.col("norm_micro")
        ).alias("sq"),
    )
    n_d = F.col("n").cast("double")
    s_d = F.col("s").cast("double")
    sq_d = F.col("sq").cast("double")
    mean = s_d / F.col("n")
    std = F.sqrt(F.greatest((sq_d - s_d * s_d / F.col("n")) / F.col("n"), F.lit(0.0)))
    stats = m.select(
        F.col("n").cast("long").alias("n_vecs"),
        F.round(mean, 6).alias("mean_norm_micro"),
        F.round(std, 6).alias("std_norm_micro"),
        mean.alias("_mean"),
        std.alias("_std"),
    )
    out = (
        v.crossJoin(F.broadcast(stats))
        .filter(
            F.abs(F.col("norm_micro").cast("double") - F.col("_mean"))
            > 3 * F.col("_std")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_outliers_3sigma"))
    )
    return stats.select(
        "n_vecs", "mean_norm_micro", "std_norm_micro"
    ).crossJoin(F.broadcast(out))



@register(
    "q195_conjunctive_search",
    oracle="""
    WITH post AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ),
    q(qid, tok) AS (
      VALUES (1, 'batch'), (1, 'scan'),
             (2, 'data'), (2, 'join'),
             (3, 'hash'), (3, 'merge'), (3, 'filter')
    ),
    hits AS (
      SELECT q.qid, post.doc_id, COUNT(*) AS n_matched
      FROM q JOIN post ON post.tok = q.tok
      GROUP BY 1, 2
    ),
    need AS (SELECT qid, COUNT(*) AS n_terms FROM q GROUP BY 1)
    SELECT h.qid AS query_id, h.doc_id
    FROM hits h JOIN need n ON n.qid = h.qid AND h.n_matched = n.n_terms
    """,
)
def q195_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X122 — conjunctive (boolean-AND) search over the q160 inverted
    index: a document matches a query iff it contains EVERY query term.
    The standard distributed evaluation — postings equi-join on token,
    count matched terms per (query, doc), keep docs where the count
    equals the query's term count — never intersects posting lists
    pairwise and never touches documents that match no term. The query
    table broadcasts; the only corpus-sized work is the (doc, token)
    distinct that q160 already materializes at scale.
    """
    docs = load(spark, sf_dir, "documents")
    post = docs.select(
        "doc_id", F.explode(tokenize(F.col("text"))).alias("tok")
    ).distinct()
    q = spark.createDataFrame(
        [
            (1, "batch"), (1, "scan"),
            (2, "data"), (2, "join"),
            (3, "hash"), (3, "merge"), (3, "filter"),
        ],
        ["qid", "tok"],
    )
    hits = (
        post.join(F.broadcast(q), "tok")
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    need = q.groupBy("qid").agg(F.count(F.lit(1)).alias("n_terms"))
    return (
        hits.join(
            F.broadcast(need),
            (hits["qid"] == need["qid"]) & (F.col("n_matched") == F.col("n_terms")),
        )
        .select(hits["qid"].alias("query_id"), "doc_id")
    )



@register(
    "q218_bm25_topk",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the corpus (N, \u03a3dl, per-term df) scalar attached to the per-doc BM25 projection",
    oracle=_BM25_SQL_BASE
    + """
    SELECT doc_id, score_micro,
           ROUND(score_micro / 1000000.0, 6) AS bm25
    FROM scored ORDER BY score_micro DESC, doc_id LIMIT 20
    """,
)
def q218_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X145 — BM25 ranked retrieval, top-20 for a fixed 3-term query.
    orderBy+limit compiles to TakeOrderedAndProject (parallel partial
    top-k per partition, k-row merge on the driver — never a global
    sort). Tiebreak doc_id makes rank 20's cut deterministic.
    """
    scored = _bm25_scored(spark, sf_dir)
    return (
        scored.orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "score_micro",
            F.round(F.col("score_micro") / 1000000.0, 6).alias("bm25"),
        )
    )



@register(
    "q223_ndcg_eval",
    allow_non_equi="same BM25 scalar cross join, plus the 1-row DCG x 1-row IDCG pairing",
    oracle=_BM25_SQL_BASE
    + """
    , rel AS (
      SELECT doc_id, score_micro,
             CAST((CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN tf_join > 0 THEN 1 ELSE 0 END)
                + (CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS BIGINT) AS rel
      FROM scored
    ),
    sys AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
      FROM rel
    ),
    ideal AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC, doc_id) AS rk
      FROM rel
    ),
    dcg AS (
      SELECT SUM(CAST(ROUND(1000000.0 * rel / log2(CAST(rk + 1 AS DOUBLE))
                 ) AS BIGINT)) AS dcg_micro
      FROM sys WHERE rk <= 10
    ),
    idcg AS (
      SELECT SUM(CAST(ROUND(1000000.0 * rel / log2(CAST(rk + 1 AS DOUBLE))
                 ) AS BIGINT)) AS idcg_micro
      FROM ideal WHERE rk <= 10
    )
    SELECT CAST(dcg_micro AS BIGINT) AS dcg_micro,
           CAST(idcg_micro AS BIGINT) AS idcg_micro,
           ROUND(CAST(dcg_micro AS DOUBLE) / CAST(idcg_micro AS DOUBLE), 6)
             AS ndcg
    FROM dcg, idcg
    """,
)
def q223_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X150 — NDCG@10 of the BM25 ranking (q218) against graded
    relevance = number of distinct query terms present (0-3). The two
    top-10s (system by score, ideal by relevance) come from
    orderBy+limit (TakeOrdered, parallel); the rank index is then a
    window over the 10 SURVIVING rows — a bounded-by-k single partition,
    not a global sort. Per-rank DCG terms are rounded to integer micros
    before summation so the result is addition-order-free and
    hash-matches the oracle exactly.
    """
    rel = _bm25_scored(spark, sf_dir).select(
        "doc_id",
        "score_micro",
        (
            (F.col("tf_spark") > 0).cast("long")
            + (F.col("tf_join") > 0).cast("long")
            + (F.col("tf_window") > 0).cast("long")
        ).alias("rel"),
    )

    def dcg10(df: DataFrame, order_cols, out: str) -> DataFrame:
        top = df.orderBy(*order_cols).limit(10)
        # window over <=10 rows (post-limit): bounded by k, by design
        w = Window.orderBy(*order_cols)
        return (
            top.withColumn("rk", F.row_number().over(w))
            .select(
                F.round(
                    F.lit(1000000.0)
                    * F.col("rel")
                    / F.log2((F.col("rk") + 1).cast("double"))
                )
                .cast("long")
                .alias("term")
            )
            .agg(F.sum("term").cast("long").alias(out))
        )

    sys_dcg = dcg10(rel, [F.col("score_micro").desc(), F.col("doc_id")], "dcg_micro")
    ideal_dcg = dcg10(rel, [F.col("rel").desc(), F.col("doc_id")], "idcg_micro")
    return (
        sys_dcg.crossJoin(F.broadcast(ideal_dcg))
        .select(
            "dcg_micro",
            "idcg_micro",
            F.round(
                F.col("dcg_micro").cast("double")
                / F.col("idcg_micro").cast("double"),
                6,
            ).alias("ndcg"),
        )
    )



@register(
    "q219_grid_knn_join",
    oracle="""
    WITH pts AS (
      SELECT event_id, event_type,
             CAST(event_id % 1800 AS DOUBLE)/10.0 - 90.0 AS lat,
             CAST((event_id * 7) % 3600 AS DOUBLE)/10.0 - 180.0 AS lon
      FROM events
    ),
    refs AS (
      SELECT event_id AS ref_id, lat AS rlat, lon AS rlon
      FROM pts WHERE event_id % 97 = 0
    ),
    qs AS (SELECT event_id, lat, lon FROM pts WHERE event_type = 'click'),
    cand AS (
      SELECT q.event_id, r.ref_id,
             (q.lat - r.rlat)*(q.lat - r.rlat)
             + (q.lon - r.rlon)*(q.lon - r.rlon) AS dist2
      FROM qs q, refs r
      WHERE (q.lat - r.rlat)*(q.lat - r.rlat)
            + (q.lon - r.rlon)*(q.lon - r.rlon) <= 36.0
    ),
    ranked AS (
      SELECT event_id, ref_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY dist2, ref_id) AS knn_rank
      FROM cand
    )
    SELECT event_id, CAST(knn_rank AS BIGINT) AS knn_rank, ref_id,
           ROUND(sqrt(dist2), 6) AS dist_deg
    FROM ranked WHERE knn_rank <= 3
    """,
)
def q219_grid_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X146 — radius-bounded exact K-nearest-neighbor join via grid
    neighborhoods: for every 'click' event-point, its 3 nearest landmark
    points within R=6 degrees (Euclidean in degree space). The oracle
    is the BRUTE-FORCE cross join — this query's grid pruning must
    reproduce it exactly, which it does because cell size == R: any
    point within Euclidean R of q lies within one cell of q's cell on
    each axis, so the 3x3 neighborhood is a complete candidate set.

    Plan shape: the landmark side is exploded x9 into (cell_y, cell_x)
    neighbor keys and BROADCAST; candidates come from an equi-join on
    the cell key — no cross product anywhere on the big side; the final
    top-k is a window partitioned by the query point (bounded fan-in:
    one 3x3 neighborhood of landmarks). NOTE the broadcast precondition:
    the 1% modulus sample here stands in for a genuinely dimension-sized
    landmark table (ports, geofences); a corpus-FRACTION landmark set
    grows with the fact table and would blow the broadcast at 100 TB —
    at scale pass a bounded landmark dim, or swap grid_knn_join's
    broadcast for a shuffle equi-join on the cell key (same exactness
    argument, one extra exchange).
    """
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        grid_knn_join,
    )

    ev = load(spark, sf_dir, "events")
    pts = _with_coords(ev.filter(F.col("event_type") == "click"))
    refs = _with_coords(ev).filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("ref_id"),
        F.col("lat").alias("rlat"),
        F.col("lon").alias("rlon"),
    )
    return grid_knn_join(pts, refs, k=_KNN_K, radius=_KNN_R)



@register(
    "q222_maxsim_late_interaction",
    allow_non_equi="deliberate 3-row broadcast cross join: the multi-vector query side of MaxSim attached to the corpus scan (bounded by query size)",
    oracle="""
    WITH m AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM m WHERE vec_id < 3),
    dots AS (
      SELECT d.label, d.vec_id, q.qid,
             list_sum(list_transform(generate_series(1, len(q.qv)),
                      i -> q.qv[i] * d.v[i])) AS dot
      FROM m d, q
    ),
    mx AS (
      SELECT label, qid, MAX(dot) AS best FROM dots GROUP BY label, qid
    )
    SELECT label,
           CAST(SUM(best) AS BIGINT) AS maxsim_milli2,
           ROUND(CAST(SUM(best) AS DOUBLE) / 1000000.0, 6) AS maxsim
    FROM mx GROUP BY label
    """,
)
def q222_maxsim_late_interaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X149 — ColBERT-style late-interaction retrieval (MaxSim): score a
    candidate GROUP of vectors against a multi-vector query by, for each
    query vector, taking the max dot product over the group's vectors,
    then summing over query vectors. Groups = embedding labels (each
    label's vectors play the role of one document's token embeddings);
    query = vectors 0-2.

    Plan shape: the query side is 3 rows — broadcast; the corpus side is
    scanned once; dot products are an integer ``zip_with`` +
    ``aggregate`` fold in milli units (exact, order-free); the two
    reductions (max per label x query-vec, sum per label) share the
    label shuffle key so the second agg is map-side-combinable on the
    first's output. No pairwise corpus x corpus work anywhere. At
    100 TB with a real query batch you shard queries into the broadcast
    in batches; the corpus-side cost stays one scan per batch.
    """
    emb = load(spark, sf_dir, "embeddings")
    milli = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), milli.alias("qv")
    )
    corpus = emb.select("label", "vec_id", milli.alias("dv"))
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("dv"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dots = corpus.crossJoin(F.broadcast(qs)).select(
        "label", "qid", dot.alias("dot")
    )
    mx = dots.groupBy("label", "qid").agg(F.max("dot").alias("best"))
    return mx.groupBy("label").agg(
        F.sum("best").cast("long").alias("maxsim_milli2"),
        F.round(F.sum("best").cast("double") / 1000000.0, 6).alias("maxsim"),
    )



@register(
    "q227_reciprocal_rank_fusion",
    # the 1-row BM25 stats cross join feeds both global_running_sum
    # references (local sums and per-bucket totals); the plan audits
    # validate its bound
    allow_non_equi="inherits the BM25 single-row stats cross join via _bm25_scored",
    oracle=_BM25_SQL_BASE
    + """
    , r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk1
      FROM scored
    ),
    r2 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk2
      FROM documents
    ),
    fused AS (
      SELECT r1.doc_id,
             CAST(ROUND(1000000.0 / (60.0 + rk1)) AS BIGINT)
             + CAST(ROUND(1000000.0 / (60.0 + rk2)) AS BIGINT) AS rrf_micro
      FROM r1 JOIN r2 ON r1.doc_id = r2.doc_id
    )
    SELECT doc_id, rrf_micro,
           ROUND(rrf_micro / 1000000.0, 6) AS rrf
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT 20
    """,
)
def q227_reciprocal_rank_fusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X154 — hybrid-search rank fusion: RRF(d) = sum over rankers of
    1/(60 + rank_r(d)), here fusing the BM25 ranking (q218) with a
    document-length prior ranking. The standard way to combine lexical
    and secondary signals without score calibration.

    Scale shape: each GLOBAL ranking is a two-phase parallel prefix scan
    (running count of 1 over the ranking's total order — range
    partition + local window + broadcast offsets), NEVER a
    single-partition ROW_NUMBER over the corpus; the fusion is a
    doc_id equi-join; per-ranker RRF terms are rounded to integer
    micros before the order-free sum; final top-20 is TakeOrdered.
    """
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    scored = _bm25_scored(spark, sf_dir).select(
        "doc_id", (-F.col("score_micro")).alias("neg_score")
    )
    r1 = global_running_sum(
        scored.withColumn("_one", F.lit(1)),
        ["neg_score", "doc_id"],
        "_one",
        out_col="rk1",
    ).select("doc_id", "rk1")
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (-F.col("n_chars")).alias("neg_len")
    )
    r2 = global_running_sum(
        docs.withColumn("_one", F.lit(1)),
        ["neg_len", "doc_id"],
        "_one",
        out_col="rk2",
    ).select("doc_id", "rk2")
    term = lambda rk: F.round(F.lit(1000000.0) / (F.lit(60.0) + F.col(rk))).cast(  # noqa: E731
        "long"
    )
    fused = r1.join(r2, "doc_id").select(
        "doc_id", (term("rk1") + term("rk2")).alias("rrf_micro")
    )
    return (
        fused.orderBy(F.col("rrf_micro").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "rrf_micro",
            F.round(F.col("rrf_micro") / 1000000.0, 6).alias("rrf"),
        )
    )



@register(
    "q231_embedding_covariance",
    allow_non_equi="deliberate SINGLE-ROW broadcast cross join: the corpus row count attached to the 2080-row covariance triangle",
    oracle="""
    WITH m AS (
      SELECT list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    marg AS (
      SELECT i, SUM(v[i]) AS s
      FROM m, UNNEST(generate_series(1, len(v))) AS u(i)
      GROUP BY i
    ),
    pairs AS (
      SELECT i, j, SUM(vi * vj) AS sij FROM (
        SELECT u.i AS i, w.j AS j, v[u.i] AS vi, v[w.j] AS vj
        FROM m,
             UNNEST(generate_series(1, len(v))) AS u(i),
             UNNEST(generate_series(1, len(v))) AS w(j)
        WHERE w.j >= u.i
      ) GROUP BY i, j
    ),
    g AS (SELECT COUNT(*) AS n FROM m)
    SELECT CAST(p.i AS INTEGER) AS i, CAST(p.j AS INTEGER) AS j,
           CAST(n * sij - ma.s * mb.s AS BIGINT) AS cov_num,
           ROUND(CAST(n * sij - ma.s * mb.s AS DOUBLE)
                 / (n * (n - 1.0)) / 1000000.0, 6) AS cov
    FROM pairs p
    JOIN marg ma ON ma.i = p.i
    JOIN marg mb ON mb.i = p.j, g
    """,
)
def q231_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X158 — distributed covariance matrix of the embedding columns
    (upper triangle, sample covariance): the input to PCA/whitening and
    the redundancy screen for learned representations. cov_ij =
    (n*S_ij - S_i*S_j) / (n*(n-1)) over integer-milli components, so
    every term before the mirrored final division is an exact integer.

    Plan shape: the CORRECT 100 TB decomposition — the data is huge but
    the matrix is tiny (64x64), so each row emits its d(d+1)/2 = 2080
    upper-triangle products and ONE hash aggregation reduces them; the
    marginal sums ride a 64-key aggregation and join back broadcast.
    No driver-side matrix math, no per-row Python. (At bigger n than
    ~10^9 the milli-int products approach int64 range — swap to DECIMAL
    sums or per-partition float Welford then.)
    """
    emb = load(spark, sf_dir, "embeddings")
    v = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000).cast("long"),
    )
    rows = emb.select(v.alias("v"))
    d = F.size(F.col("v"))
    idx = F.sequence(F.lit(1), d)
    marg = (
        rows.select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.alias("i"), F.element_at(F.col("v"), i).alias("x")
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.i").alias("i"))
        .agg(F.sum("e.x").alias("s"))
    )
    pairs = (
        rows.select(
            F.explode(
                F.flatten(
                    F.transform(
                        idx,
                        lambda i: F.transform(
                            F.sequence(i, d),
                            lambda j: F.struct(
                                i.alias("i"),
                                j.alias("j"),
                                (
                                    F.element_at(F.col("v"), i)
                                    * F.element_at(F.col("v"), j)
                                ).alias("p"),
                            ),
                        ),
                    )
                )
            ).alias("e")
        )
        .groupBy(F.col("e.i").alias("i"), F.col("e.j").alias("j"))
        .agg(F.sum("e.p").alias("sij"))
    )
    g = rows.agg(F.count(F.lit(1)).alias("n"))
    ma = marg.select(F.col("i"), F.col("s").alias("sa"))
    mb = marg.select(F.col("i").alias("j"), F.col("s").alias("sb"))
    num = F.col("n") * F.col("sij") - F.col("sa") * F.col("sb")
    return (
        pairs.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .crossJoin(F.broadcast(g))
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            num.cast("long").alias("cov_num"),
            F.round(
                num.cast("double")
                / (F.col("n") * (F.col("n") - F.lit(1.0)))
                / F.lit(1000000.0),
                6,
            ).alias("cov"),
        )
    )



@register(
    "q232_prf_expansion",
    allow_non_equi="inherits the BM25 single-row stats cross join via _bm25_scored",
    oracle=_BM25_SQL_BASE
    + """
    , top10 AS (
      SELECT doc_id FROM scored ORDER BY score_micro DESC, doc_id LIMIT 10
    ),
    toks AS (
      SELECT d.doc_id,
             list_filter(string_split_regex(lower(trim(d.text)), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents d JOIN top10 USING (doc_id)
    ),
    inst AS (
      SELECT doc_id, UNNEST(ts) AS tok, len(ts) AS dl FROM toks
    ),
    w AS (
      SELECT tok,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             SUM(CAST(ROUND(1000000.0 / dl) AS BIGINT)) AS weight_micro
      FROM inst
      WHERE tok NOT IN ('spark', 'join', 'window')
      GROUP BY tok
    )
    SELECT tok, n_docs, CAST(weight_micro AS BIGINT) AS weight_micro,
           ROUND(weight_micro / 1000000.0, 6) AS weight
    FROM w ORDER BY weight_micro DESC, tok LIMIT 10
    """,
)
def q232_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X159 — pseudo-relevance feedback (RM1-style query expansion): take
    the BM25 top-10 (q218), weight every non-query term by its relative
    frequency mass across those docs (sum of tf/dl == sum of 1/dl over
    token INSTANCES — the instance form needs no per-doc-term rollup),
    emit the 10 strongest expansion terms. The classic second-pass
    retrieval step when the raw query underspecifies.

    Plan shape: the feedback set is 10 doc ids — broadcast back onto the
    documents scan as an equi-semi-join; instance weights are rounded to
    integer micros per token instance so the term sum is order-free; the
    final cut is TakeOrdered. Corpus-sized work: one scan + one
    |feedback-tokens| aggregation.
    """
    scored = _bm25_scored(spark, sf_dir)
    top10 = (
        scored.orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(10)
        .select("doc_id")
    )
    docs = load(spark, sf_dir, "documents")
    toks = docs.join(F.broadcast(top10), "doc_id").select(
        "doc_id", tokenize(F.col("text")).alias("ts")
    )
    inst = toks.select(
        "doc_id", F.explode("ts").alias("tok"), F.size("ts").alias("dl")
    )
    w = (
        inst.filter(~F.col("tok").isin(*_BM25_TERMS))
        .groupBy("tok")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.sum(
                F.round(F.lit(1000000.0) / F.col("dl")).cast("long")
            ).alias("weight_micro"),
        )
    )
    return (
        w.orderBy(F.col("weight_micro").desc(), "tok")
        .limit(10)
        .select(
            "tok",
            "n_docs",
            "weight_micro",
            F.round(F.col("weight_micro") / 1000000.0, 6).alias("weight"),
        )
    )



@register(
    "q249_mann_kendall",
    allow_non_equi="deliberate |days|^2 theta self-joins ON THE DAY ROLLUP (dimension- sized pair spines for robust trend statistics) + 1-row scalars",
    oracle=_DAILY_PAIRS_CTE
    + """
    , s AS (
      SELECT SUM(CASE WHEN y2 > y1 THEN 1 WHEN y2 < y1 THEN -1 ELSE 0 END)
               AS mk_s
      FROM pairs
    ),
    n AS (SELECT COUNT(*) AS n FROM daily),
    ties AS (
      SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      FROM (SELECT y, COUNT(*) AS t FROM daily GROUP BY y HAVING COUNT(*) > 1)
    )
    SELECT CAST(n AS BIGINT) AS n_days, CAST(mk_s AS BIGINT) AS mk_s,
           ROUND((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_term)
                 / 18.0, 6) AS var_s,
           ROUND(CASE WHEN mk_s = 0 THEN 0.0
                 ELSE (mk_s - CASE WHEN mk_s > 0 THEN 1 ELSE -1 END)
                      / sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)
                              - tie_term) / 18.0) END, 6) AS z
    FROM s, n, ties
    """,
)
def q249_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X177 — Mann-Kendall trend test with tie correction: S = sum of
    pairwise signs over the daily series, continuity-corrected Z
    against the tie-adjusted variance. The nonparametric "is there a
    monotone trend at all" gate that belongs in front of any slope
    estimate (q234 OLS / q248 Theil-Sen) — it needs no distributional
    assumption the synthetic series would violate.

    Same dimension-sized day-pair spine as q248; the tie term is a
    second tiny aggregation on the day rollup; every input to the final
    mirrored float expression is an exact integer.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn = F.when(F.col("b.y") > F.col("a.y"), 1).when(
        F.col("b.y") < F.col("a.y"), -1
    ).otherwise(0)
    s = a.join(b, F.col("b.d") > F.col("a.d")).agg(
        F.sum(sgn).alias("mk_s")
    )
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("tie_term")
        )
    )
    var_s = (
        F.col("n").cast("double") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.col("tie_term")
    ) / F.lit(18.0)
    z = F.when(F.col("mk_s") == 0, F.lit(0.0)).otherwise(
        (
            F.col("mk_s")
            - F.when(F.col("mk_s") > 0, F.lit(1)).otherwise(F.lit(-1))
        )
        / F.sqrt(var_s)
    )
    return (
        s.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("n").cast("long").alias("n_days"),
            F.col("mk_s").cast("long").alias("mk_s"),
            F.round(var_s, 6).alias("var_s"),
            F.round(z, 6).alias("z"),
        )
    )



@register(
    "q253_rank_biased_overlap",
    allow_non_equi="BM25 stats cross join + the bounded 20-row depth-spine cross join",
    oracle=_BM25_SQL_BASE
    + """
    , r1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk1
      FROM scored
    ),
    r2 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rk2
      FROM documents
    ),
    j AS (SELECT r1.rk1, r2.rk2 FROM r1 JOIN r2 USING (doc_id)),
    depths AS (SELECT UNNEST(generate_series(1, 20)) AS depth),
    ov AS (
      SELECT depth,
             SUM(CASE WHEN rk1 <= depth AND rk2 <= depth THEN 1 ELSE 0 END)
               AS o
      FROM depths, j GROUP BY depth
    ),
    terms AS (
      SELECT depth, o,
             CAST(ROUND(1000000.0 * 0.1 * (CAST(o AS DOUBLE) / depth)
                  * power(0.9, depth - 1)) AS BIGINT) AS term_micro
      FROM ov
    )
    SELECT CAST(SUM(CASE WHEN depth = 20 THEN o END) AS BIGINT)
             AS overlap_at_20,
           CAST(SUM(term_micro) AS BIGINT) AS rbo_micro,
           ROUND(SUM(term_micro) / 1000000.0, 6) AS rbo
    FROM terms
    """,
)
def q253_rank_biased_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X181 — rank-biased overlap (Webber et al.) between the BM25
    ranking and the length-prior ranking, truncated at depth 20 with
    persistence p=0.9: RBO = (1-p) * sum_d (overlap@d / d) * p^(d-1).
    The top-weighted way to ask "do two rankers agree where it
    matters?" — Kendall/Spearman weight rank 1 and rank 5000 equally,
    which is wrong for retrieval.

    Plan shape: both global ranks come from single window passes in the
    oracle and, on the Spark side, from TakeOrdered-limited top-k sets
    (only ranks <= 20 can contribute, so the full global rank is never
    materialized — top-k each side, join, and a 20-row depth spine
    cross join). Per-depth terms are rounded to integer micros before
    the order-free sum.
    """
    scored = _bm25_scored(spark, sf_dir)
    # windows run over the 20 SURVIVING rows post-limit (bounded by k),
    # ordered by the same keys as the TakeOrdered so ranks are exact
    top1 = (
        scored.orderBy(F.col("score_micro").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "rk1",
            F.row_number().over(
                Window.orderBy(F.col("score_micro").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rk1")
    )
    docs = load(spark, sf_dir, "documents")
    top2 = (
        docs.orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(20)
        .withColumn(
            "rk2",
            F.row_number().over(
                Window.orderBy(F.col("n_chars").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rk2")
    )
    j = top1.join(top2, "doc_id").select("rk1", "rk2")
    depths = spark.range(1, 21).select(F.col("id").cast("int").alias("depth"))
    # left-join back onto the depth spine: when the two top-20s are
    # DISJOINT, j is empty and every depth must still report overlap 0
    # (the oracle's cross join keeps all-docs rank pairs, so its o=0
    # rows survive; without this the Spark side would aggregate nothing
    # and emit NULLs)
    ov = depths.join(
        depths.crossJoin(F.broadcast(j))
        .groupBy("depth")
        .agg(
            F.sum(
                (
                    (F.col("rk1") <= F.col("depth"))
                    & (F.col("rk2") <= F.col("depth"))
                ).cast("long")
            ).alias("o")
        ),
        "depth",
        "left",
    ).withColumn("o", F.coalesce("o", F.lit(0)))
    term = F.round(
        F.lit(1000000.0)
        * F.lit(0.1)
        * (F.col("o").cast("double") / F.col("depth"))
        * F.pow(F.lit(0.9), F.col("depth") - 1)
    ).cast("long")
    return ov.select("depth", "o", term.alias("term_micro")).agg(
        F.sum(F.when(F.col("depth") == 20, F.col("o")))
        .cast("long")
        .alias("overlap_at_20"),
        F.sum("term_micro").cast("long").alias("rbo_micro"),
        F.round(F.sum("term_micro") / 1000000.0, 6).alias("rbo"),
    )



@register(
    "q261_chunk_documents",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0)
    SELECT doc_id,
           CAST(start // 48 AS INT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(LEAST(64, n - start) AS BIGINT) AS n_tok,
           w[start + 1] AS first_tok
    FROM (SELECT doc_id, w, n, UNNEST(range(0, n, 48)) AS start FROM s)
    """,
)
def q261_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X190 — RAG-style document chunking: fixed 64-token windows with
    16-token overlap (stride 48), one output row per chunk with its
    token offset, length, and first token (the first-token column pins
    offset arithmetic against the oracle, not just counts). The chunk
    grid is pure ``sequence`` + ``explode`` — row-local, zero shuffles
    at any corpus size; the downstream embed step would chain a
    mapInPandas like q44's decode.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    t = docs.select("doc_id", toks.alias("w"), F.size(toks).alias("n")).filter(
        F.col("n") > 0
    )
    start = F.explode(
        F.sequence(F.lit(0).cast("long"), F.col("n") - 1, F.lit(48).cast("long"))
    )
    out = t.select("doc_id", "w", "n", start.alias("start_tok"))
    return out.select(
        "doc_id",
        (F.col("start_tok") / 48).cast("int").alias("chunk_idx"),
        F.col("start_tok").cast("long"),
        F.least(F.lit(64), F.col("n") - F.col("start_tok"))
        .cast("long")
        .alias("n_tok"),
        F.element_at("w", (F.col("start_tok") + 1).cast("int")).alias(
            "first_tok"
        ),
    )



@register(
    "q278_matryoshka_truncation",
    oracle="""
    WITH t AS (
      SELECT vec_id, embedding[1:16] AS head,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE)
                                                       * 1000000) AS BIGINT)) AS fm,
             list_transform(embedding[1:16],
                            x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)
                                      AS BIGINT)) AS hm
      FROM embeddings
    )
    SELECT vec_id,
           CAST(len(hm) AS BIGINT) AS dim_kept,
           CAST(list_sum(list_transform(hm, x -> x * x)) AS BIGINT)
             AS head_sq_micro,
           CAST(list_sum(list_transform(fm, x -> x * x)) AS BIGINT)
             AS full_sq_micro,
           ROUND(sqrt(CAST(list_sum(list_transform(hm, x -> x * x)) AS DOUBLE))
                 / sqrt(CAST(list_sum(list_transform(fm, x -> x * x)) AS DOUBLE)),
                 6) AS energy_kept
    FROM t
    """,
)
def q278_matryoshka_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka embedding truncation audit (Kusupati et al. 2022):
    keep the first 16 of 64 dimensions and report, per vector, the
    fraction of the L2 norm the truncated head retains — the signal for
    choosing a cheaper ANN index dimension. Squared norms are exact
    integer micro sums (order-free); only the final sqrt ratio is float,
    rounded 6dp identically in both engines. Row-local array expressions
    — zero shuffles, zero explodes.
    """
    emb = load(spark, sf_dir, "embeddings")
    micro = lambda c: F.transform(
        c, lambda x: F.round(x.cast("double") * 1000000).cast("long")
    )
    sq = lambda c: F.aggregate(
        F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda a, x: a + x
    )
    head = F.slice(F.col("embedding"), 1, 16)
    t = emb.select(
        "vec_id",
        sq(micro(head)).alias("head_sq_micro"),
        sq(micro(F.col("embedding"))).alias("full_sq_micro"),
        F.size(head).cast("long").alias("dim_kept"),
    )
    return t.select(
        "vec_id",
        "dim_kept",
        "head_sq_micro",
        "full_sq_micro",
        F.round(
            F.sqrt(F.col("head_sq_micro").cast("double"))
            / F.sqrt(F.col("full_sq_micro").cast("double")),
            6,
        ).alias("energy_kept"),
    )



@register(
    "q281_contrastive_chunk_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    s AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
    chunks AS (
      SELECT doc_id,
             CAST(start // 48 AS INT) AS chunk_idx,
             array_to_string(w[start + 1 : LEAST(start + 64, n)], ' ') AS chunk_text
      FROM (SELECT doc_id, w, n, UNNEST(range(0, n, 48)) AS start FROM s)
    )
    SELECT a.doc_id AS doc_id, a.chunk_idx AS anchor_idx,
           a.chunk_text AS anchor_text, p.chunk_text AS positive_text
    FROM chunks a JOIN chunks p
      ON p.doc_id = a.doc_id AND p.chunk_idx = a.chunk_idx + 1
    """,
)
def q281_contrastive_chunk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair construction for embedding models
    (SimCSE/DPR-style in-document positives): adjacent overlapping
    chunks of the same document form (anchor, positive) pairs;
    in-batch negatives come free at training time, so the data job only
    has to emit aligned positives. Chunk grid is the q261 shape
    (64-token windows, stride 48) built row-locally with
    sequence+explode; pairing is a (doc_id, idx+1) EQUI self-join —
    one hash shuffle on doc_id, no window, no per-doc sort.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    t = docs.select("doc_id", toks.alias("w"), F.size(toks).alias("n")).filter(
        F.col("n") > 0
    )
    chunks = t.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n") - 1, F.lit(48))
        ).alias("start"),
        "w",
        "n",
    ).select(
        "doc_id",
        (F.col("start") / 48).cast("int").alias("chunk_idx"),
        F.array_join(
            F.slice(
                "w",
                F.col("start") + 1,
                F.least(F.lit(64), F.col("n") - F.col("start")),
            ),
            " ",
        ).alias("chunk_text"),
    )
    a = chunks.alias("a")
    p = chunks.alias("p")
    return a.join(
        p,
        (F.col("p.doc_id") == F.col("a.doc_id"))
        & (F.col("p.chunk_idx") == F.col("a.chunk_idx") + 1),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.chunk_idx").alias("anchor_idx"),
        F.col("a.chunk_text").alias("anchor_text"),
        F.col("p.chunk_text").alias("positive_text"),
    )



@register(
    "q282_bm25_hard_negatives",
    allow_non_equi="inherits _bm25_scored's documented 1-row corpus-stats broadcast cross join (same as q218/q223/q227)",
    oracle=_BM25_SQL_BASE
    + """,
    pos AS (
      SELECT doc_id, score_micro,
             ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
      FROM scored
      WHERE tf_spark > 0 AND tf_join > 0 AND tf_window > 0
    ), neg AS (
      SELECT doc_id, score_micro,
             ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk
      FROM scored
      WHERE NOT (tf_spark > 0 AND tf_join > 0 AND tf_window > 0)
    )
    SELECT CAST(p.rk AS BIGINT) AS rank,
           p.doc_id AS positive_id, p.score_micro AS positive_score_micro,
           n.doc_id AS negative_id, n.score_micro AS negative_score_micro
    FROM pos p JOIN neg n ON n.rk = p.rk
    WHERE p.rk <= 5 AND n.rk <= 5
    """,
)
def q282_bm25_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval training (DPR/ANCE data prep):
    the top-5 fully-matching documents (every query term present) are
    positives; the top-5 highest-BM25 docs that do NOT match all terms
    are the hard negatives — lexically close, semantically non-relevant,
    exactly the pairs that make a dual-encoder learn. Rank r positive
    pairs with rank r negative → 5 training triplets for the fixed
    query.

    The corpus-sized work is the shared BM25 projection (q218's
    integer-micro scoring); both top-5s are TakeOrdered (never a global
    sort), and the rank-alignment join runs on two 5-row sides.
    """
    scored = _bm25_scored(spark, sf_dir)
    all_match = (
        (F.col("tf_spark") > 0) & (F.col("tf_join") > 0) & (F.col("tf_window") > 0)
    )
    w = Window.orderBy(F.col("score_micro").desc(), F.col("doc_id"))
    pos = (
        scored.filter(all_match)
        .orderBy(F.col("score_micro").desc(), F.col("doc_id"))
        .limit(5)
        .withColumn("rank", F.row_number().over(w))
    )
    neg = (
        scored.filter(~all_match)
        .orderBy(F.col("score_micro").desc(), F.col("doc_id"))
        .limit(5)
        .withColumn("rank", F.row_number().over(w))
    )
    return pos.alias("p").join(neg.alias("n"), "rank").select(
        F.col("rank").cast("long").alias("rank"),
        F.col("p.doc_id").alias("positive_id"),
        F.col("p.score_micro").alias("positive_score_micro"),
        F.col("n.doc_id").alias("negative_id"),
        F.col("n.score_micro").alias("negative_score_micro"),
    )


# ---------------------------------------------------------------------------
# Scale/storage operators: Z-order layout, Bloom join pruning, Count-Min,
# watermark sizing (q283-q286)
# ---------------------------------------------------------------------------



@register(
    "q303_chunk_stitch_detect",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), edges AS (
      SELECT doc_id,
             array_to_string(w[1:8], ' ') AS head8,
             array_to_string(w[GREATEST(len(w) - 7, 1):len(w)], ' ') AS tail8,
             len(w) AS n
      FROM t WHERE len(w) >= 8
    )
    SELECT a.doc_id AS tail_doc, b.doc_id AS head_doc,
           a.tail8 AS boundary_text
    FROM edges a JOIN edges b
      ON b.head8 = a.tail8 AND b.doc_id <> a.doc_id
    """,
)
def q303_chunk_stitch_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document stitching detector: if doc A's last 8 tokens equal
    doc B's first 8 tokens, A and B are almost certainly fragments of
    one original (the artifact a fixed-size chunker leaves at shard
    boundaries) and should be re-joined before dedup/training. One
    projection computes each doc's head/tail 8-gram; detection is a
    fingerprint EQUI-join (hash shuffle on the 8-gram), never a
    pairwise scan — the q216/q49 fingerprint idiom applied to document
    boundaries."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    t = docs.select("doc_id", toks.alias("w"), F.size(toks).alias("n"))
    edges = t.filter(F.col("n") >= 8).select(
        "doc_id",
        F.array_join(F.slice("w", 1, 8), " ").alias("head8"),
        F.array_join(
            F.slice("w", F.greatest(F.col("n") - 7, F.lit(1)), 8), " "
        ).alias("tail8"),
    )
    a = edges.alias("a")
    b = edges.alias("b")
    return a.join(
        b,
        (F.col("b.head8") == F.col("a.tail8"))
        & (F.col("b.doc_id") != F.col("a.doc_id")),
    ).select(
        F.col("a.doc_id").alias("tail_doc"),
        F.col("b.doc_id").alias("head_doc"),
        F.col("a.tail8").alias("boundary_text"),
    )



@register("q318_kmeans_lloyd", oracle=_kmeans_oracle(3, 4))
def q318_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED, ENGINE-EXACT Lloyd k-means (k=4, 3 assignment
    rounds, first-k-ids init): coordinates quantize to integer micros,
    distances are exact BIGINT sums of squares, centroid updates round
    once per coordinate — so every engine running the same algebra lands
    on the SAME clusters, and an iterative-algorithm hash gate becomes
    possible (the q277 PCA idiom applied to clustering). Per round: one
    broadcast join against the k·d-row centroid relation, one argmin
    window partitioned by vector, one centroid aggregation — the plan a
    1000-executor Lloyd actually wants (the k·d side never grows with
    the corpus). Degenerate empty clusters would drop out symmetrically
    in both engines (inner joins; none occur on this data). Contrast
    with q64's SAMPLED k-means (driver-trained, fast, rows-only): this
    one is slower per round but exactly replayable."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("pos", "xf"),
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("xf").cast("double") * 1_000_000).cast("long").alias("x"),
    )
    # dims feeds ~6 subtrees across the unrolled rounds (each assignment
    # AND each centroid update re-joins it); cache() so the corpus is
    # scanned+exploded once, not six times (the minhash signature-index cache
    # precedent — MEMORY_AND_DISK, LRU-evictable)
    dims = query_scoped_cache(dims)
    cent = dims.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("c"), "i", F.col("x").alias("ci")
    )
    assign = None
    for r in range(3):
        d2 = (
            dims.join(F.broadcast(cent), "i")
            .groupBy("vec_id", "c")
            .agg(
                F.sum(
                    (F.col("x") - F.col("ci")) * (F.col("x") - F.col("ci"))
                ).alias("d2")
            )
        )
        rk = F.row_number().over(
            Window.partitionBy("vec_id").orderBy("d2", "c")
        )
        assign = d2.withColumn("rk", rk).filter(F.col("rk") == 1)
        if r < 2:
            cent = (
                assign.select("vec_id", "c")
                .join(dims, "vec_id")
                .groupBy("c", "i")
                .agg(
                    F.round(
                        F.sum("x").cast("double") / F.count(F.lit(1))
                    )
                    .cast("long")
                    .alias("ci")
                )
            )
    return assign.groupBy(F.col("c").alias("cluster")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("d2").cast("long").alias("inertia"),
    )


# ---------------------------------------------------------------------------
# Scaling-law subsets, prefix sharing, skip-gram pairs, uncertainty
# sampling (q319-q322)
# ---------------------------------------------------------------------------



@register(
    "q323_class_weights",
    allow_non_equi="deliberate 1-row broadcast cross join: the (n_total, k) scalar on the |labels|-sized class table",
    oracle="""
    WITH c AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_class FROM embeddings
      GROUP BY label
    ), g AS (
      SELECT SUM(n_class) AS n_total, COUNT(*) AS k FROM c
    )
    SELECT label, n_class,
           CAST(ROUND(1000000.0 * g.n_total / (g.k * n_class)) AS BIGINT)
             AS weight_micro
    FROM c, g
    """,
)
def q323_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-frequency class weights (sklearn's 'balanced' formula
    n_total/(k·n_c), in integer micros) — the loss-reweighting table a
    classifier trained on skewed labels broadcasts to every executor.
    One aggregation + a 1-row totals broadcast."""
    emb = load(spark, sf_dir, "embeddings")
    c = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_class")
    )
    g = c.agg(
        F.sum("n_class").alias("n_total"), F.count(F.lit(1)).alias("k")
    )
    return c.crossJoin(F.broadcast(g)).select(
        "label",
        "n_class",
        F.round(
            F.lit(1_000_000.0)
            * F.col("n_total")
            / (F.col("k") * F.col("n_class"))
        )
        .cast("long")
        .alias("weight_micro"),
    )



@register(
    "q324_random_projection",
    oracle="""
    WITH dims AS (
      SELECT vec_id, u.i AS i,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ), pj AS (SELECT UNNEST(range(8)) AS j),
    signs AS (
      SELECT i, j,
             CASE WHEN (((i % 2147483648) * 2654435761
                         + (j % 2147483648) * 2246822519 + 1013904223)
                        % 4294967291) % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM (SELECT DISTINCT i FROM dims), pj
    )
    SELECT vec_id, j, CAST(SUM(s * x) AS BIGINT) AS proj_micro
    FROM dims JOIN signs USING (i)
    GROUP BY vec_id, j
    """,
)
def q324_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection 64→8 dims, ENGINE-
    EXACT: the ±1 projection matrix comes from the deterministic affine
    hash family (q284's), coordinates are integer micros, so the
    projected vectors are exact BIGINTs — the dimensionality-reduction
    front end for LSH/clustering that both engines reproduce bit-for-
    bit. The 64×8 sign matrix is a 512-row broadcast relation; the
    projection is one equi-join + hash aggregation, linear in the
    corpus."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("xf").cast("double") * 1_000_000).cast("long").alias("x"),
    )
    # The (i, j) spine as ONE native Range relation (round 10): the
    # previous crossJoin of two createDataFrame Python locals planned as
    # a CartesianProduct over two Python RDDs — 32×32 partition pairs,
    # each re-evaluating a Python worker, measured 13.5 s for 512 rows
    # at sf0.01 (~90% of the query). spark.range is a JVM-native leaf:
    # same 512 (i, j) bigint rows, one task, no Python anywhere.
    # i/j are 64- and 8-row literal spines (can't overflow), pre-reduced
    # anyway so the hygiene scan's no-bare-multiplicand rule stays
    # exception-free
    grid = spark.range(0, 64 * 8, 1, 1).select(
        (F.col("id") % F.lit(64) + 1).alias("i"),
        F.expr("id DIV 64").alias("j"),
    )
    s = (
        (
            (F.col("i") % F.lit(2147483648)) * F.lit(2654435761)
            + (F.col("j") % F.lit(2147483648)) * F.lit(2246822519)
            + F.lit(1013904223)
        )
        % F.lit(4294967291)
        % F.lit(2)
    )
    signs = grid.select(
        "i", "j", F.when(s == 0, 1).otherwise(-1).alias("s")
    )
    return (
        dims.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("s") * F.col("x")).cast("long").alias("proj_micro"))
    )



@register(
    "q331_phrase_search",
    oracle="""
    WITH pos AS (
      SELECT doc_id, u.p AS p, w[u.p] AS tok
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS w
        FROM documents
      ), UNNEST(generate_series(1, len(w))) AS u(p)
    ), a AS (SELECT doc_id, p FROM pos WHERE tok = 'hash'),
    b AS (SELECT doc_id, p FROM pos WHERE tok = 'join')
    SELECT a.doc_id AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(a.p) AS BIGINT) AS first_pos
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.p = a.p + 1
    GROUP BY a.doc_id
    """,
)
def q331_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PHRASE search ("hash join", adjacency required) through a
    positional inverted index: each term's postings carry token
    positions, and the phrase match is the equi-join posting_b.pos =
    posting_a.pos + 1 — the way a search engine verifies phrases without
    re-reading documents. Both postings lists are term-filtered BEFORE
    the join (pushed predicates), so the join is |postings(hash)| ×
    matching positions, never corpus-sized. Extends q160's inverted
    index and q195's conjunctive search with position semantics."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    pos = docs.select(
        "doc_id", F.posexplode(toks).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "tok")
    a = pos.filter(F.col("tok") == "hash").select("doc_id", "p")
    b = pos.filter(F.col("tok") == "join").select(
        "doc_id", F.col("p").alias("pb")
    )
    return (
        a.join(b, (b.doc_id == a.doc_id) & (F.col("pb") == F.col("p") + 1))
        .select(a.doc_id.alias("doc_id"), "p")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("p").cast("long").alias("first_pos"),
        )
    )



@register(
    "q360_average_precision",
    oracle="""
    WITH ranked AS (
      SELECT label,
             (1000003 - ((vec_id % 2147483648) * 2654435761) % 1000003) AS skey,
             vec_id,
             ROW_NUMBER() OVER (ORDER BY
               (1000003 - ((vec_id % 2147483648) * 2654435761) % 1000003), vec_id) AS rk,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY
               (1000003 - ((vec_id % 2147483648) * 2654435761) % 1000003), vec_id) AS cum_rel
      FROM embeddings
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_rel,
           ROUND(CAST(SUM((cum_rel * 1000000) // rk) AS DOUBLE)
                 / (COUNT(*) * 1000000.0), 6) AS ap
    FROM ranked GROUP BY label
    """,
)
def q360_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X290 — EXACT average precision per label over one shared ranking
    (the retrieval/classifier eval primitive; mean over labels = mAP).
    Scoring is a deterministic integer channel so the ranking is total
    and reproducible; each label is scored as its own binary-relevance
    task over the same ranked list: AP = (1/R)·Σ_{relevant k} P@k.

    Engine-exactness: P@k terms are computed in integer micro-units with
    FLOOR division — (cum_rel·10⁶) // k — so the per-term values are
    exact int64 on both engines and their sum is order-independent; the
    single final division is rounded to 6 dp. No float accumulation.

    Scale: the global rank comes from the two-phase parallel prefix scan
    (`global_running_sum`), NOT a single-task global window; per-label
    cumulative relevance is an ordinary partitioned row_number. Two
    exchanges total."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    emb = load(spark, sf_dir, "embeddings")
    scored = emb.select(
        "label",
        "vec_id",
        (F.lit(1000003) - ((F.col("vec_id") % F.lit(2147483648)) * F.lit(2654435761)) % 1000003).alias(
            "skey"
        ),
    ).withColumn("_one", F.lit(1))
    ranked = global_running_sum(scored, ["skey", "vec_id"], "_one", out_col="rk")
    w_lbl = Window.partitionBy("label").orderBy("skey", "vec_id")
    terms = ranked.withColumn("cum_rel", F.row_number().over(w_lbl)).select(
        "label",
        F.expr("(cum_rel * 1000000) DIV rk").alias("term_u"),
    )
    return terms.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_rel"),
        F.round(
            F.sum("term_u").cast("double")
            / (F.count(F.lit(1)) * F.lit(1000000.0)),
            6,
        ).alias("ap"),
    )



@register(
    "q362_retrieval_recall_mrr",
    allow_non_equi=(
        "broadcast-cross-join eval whose query side is 20 rows by "
        "construction (the query set broadcasts); corpus side is linear"
    ),
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe, label AS qlabel
               FROM embeddings WHERE vec_id < 20),
    c AS (SELECT vec_id AS cid, embedding AS ce, label AS clabel
          FROM embeddings),
    s AS (
      SELECT qid, qlabel, cid, clabel,
             ROUND(
               list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))),
               6) AS score
      FROM q, c WHERE cid <> qid
    ), r AS (
      SELECT qid, qlabel, clabel,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, cid) AS rnk
      FROM s
    )
    SELECT qid AS query_id,
           CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rel,
           ROUND(1.0 / MIN(CASE WHEN clabel = qlabel THEN rnk END), 6) AS rr,
           ROUND(CAST(SUM(CASE WHEN clabel = qlabel AND rnk <= 10
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END), 6)
             AS recall_at_10
    FROM r GROUP BY qid
    """,
)
def q362_retrieval_recall_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X292 — retrieval-eval metrics over a full exact ranking: per query,
    MRR (reciprocal rank of the first same-label neighbor) and
    recall@10 (share of the relevant set found in the top 10).
    Complements q223 NDCG / q220 AUC / q253 RBO with the two metrics
    every embedding-model eval reports first.

    Cross-engine: scores are the shared q32 convention (index-ordered
    left-fold dot product, rounded to 6 dp) so ranks are total under
    the (score desc, cid) tiebreak; rr and recall are single divisions
    of exact integers, rounded once.

    Scale: 20-query broadcast against a linear corpus scan; per-query
    windows are bounded by corpus size and parallel across queries —
    for production-sized query sets, swap the broadcast for the LSH
    bucket join (q33) and evaluate on its candidates."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_similarity,
    )

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("clabel"),
    )
    s = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            F.round(cosine_similarity(F.col("qe"), F.col("ce")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("cid"))
    r = s.withColumn("rnk", F.row_number().over(w))
    rel = F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0)
    return r.groupBy("qid").agg(
        F.sum(rel).cast("long").alias("n_rel"),
        F.round(
            F.lit(1.0)
            / F.min(F.when(F.col("clabel") == F.col("qlabel"), F.col("rnk"))),
            6,
        ).alias("rr"),
        F.round(
            F.sum(
                F.when(
                    (F.col("clabel") == F.col("qlabel")) & (F.col("rnk") <= 10), 1
                ).otherwise(0)
            ).cast("double")
            / F.sum(rel),
            6,
        ).alias("recall_at_10"),
    ).withColumnRenamed("qid", "query_id")



@register(
    "q364_knn_label_noise",
    oracle="""
    WITH pts AS (
      SELECT event_id, event_type,
             CAST(event_id % 1800 AS DOUBLE)/10.0 - 90.0 AS lat,
             CAST((event_id * 7) % 3600 AS DOUBLE)/10.0 - 180.0 AS lon
      FROM events
    ),
    refs AS (
      SELECT event_id AS ref_id, event_type AS r_type,
             lat AS rlat, lon AS rlon
      FROM pts WHERE event_id % 97 = 0
    ),
    cand AS (
      SELECT q.event_id, q.event_type, r.ref_id, r.r_type,
             (q.lat - r.rlat)*(q.lat - r.rlat)
             + (q.lon - r.rlon)*(q.lon - r.rlon) AS dist2
      FROM pts q, refs r
      WHERE (q.lat - r.rlat)*(q.lat - r.rlat)
            + (q.lon - r.rlon)*(q.lon - r.rlon) <= 36.0
    ),
    ranked AS (
      SELECT event_id, event_type, ref_id, r_type,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY dist2, ref_id) AS knn_rank
      FROM cand
    ),
    per_pt AS (
      SELECT event_id, event_type,
             COUNT(*) AS n_nbrs,
             SUM(CASE WHEN r_type = event_type THEN 1 ELSE 0 END) AS n_match
      FROM ranked
      WHERE knn_rank <= 3 AND ref_id <> event_id
      GROUP BY 1, 2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(n_nbrs) AS BIGINT) AS total_nbrs,
           ROUND(CAST(SUM(n_match) AS DOUBLE) / SUM(n_nbrs), 6) AS agreement,
           CAST(SUM(CASE WHEN n_match = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suspect,
           ROUND(CAST(SUM(CASE WHEN n_match = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS suspect_share
    FROM per_pt GROUP BY event_type
    """,
)
def q364_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X294 — label-noise audit via k-NN disagreement (the
    confident-learning screen): every point votes its label against its
    3 nearest labeled landmarks; a point whose neighborhood unanimously
    disagrees is a suspect. Reported per class: micro-averaged neighbor
    agreement and the share of zero-agreement suspects — the standard
    pre-training triage for mislabeled examples.

    Semantics: ranks are computed INCLUDING a landmark identical to the
    point (so k slots are filled identically in both engines), but a
    self-landmark never votes (ref_id <> event_id after ranking) — the
    vote would be trivially self-confirming. Micro-average
    (Σmatch/Σnbrs) keeps the aggregate an exact integer ratio — a mean
    of per-point fractions would be an order-dependent double sum.

    Scale: the q219 grid-KNN join — landmark side exploded ×9 and
    broadcast, equi-join on cell key, bounded per-point window. Exact
    within radius 6°, corpus-linear."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import grid_knn_join

    ev = load(spark, sf_dir, "events")
    pts = _with_coords(ev)
    refs = pts.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("ref_id"),
        F.col("lat").alias("rlat"),
        F.col("lon").alias("rlon"),
    )
    knn = grid_knn_join(pts, refs, k=_KNN_K, radius=_KNN_R)
    qtypes = ev.select("event_id", F.col("event_type").alias("q_type"))
    rtypes = ev.select(
        F.col("event_id").alias("ref_id"), F.col("event_type").alias("r_type")
    ).filter(F.col("ref_id") % 97 == 0)
    per_pt = (
        knn.filter(F.col("ref_id") != F.col("event_id"))
        .join(qtypes, "event_id")
        .join(F.broadcast(rtypes), "ref_id")
        .groupBy("event_id", "q_type")
        .agg(
            F.count(F.lit(1)).alias("n_nbrs"),
            F.sum(
                F.when(F.col("r_type") == F.col("q_type"), 1).otherwise(0)
            ).alias("n_match"),
        )
    )
    return (
        per_pt.groupBy("q_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.sum("n_nbrs").cast("long").alias("total_nbrs"),
            F.round(
                F.sum("n_match").cast("double") / F.sum("n_nbrs"), 6
            ).alias("agreement"),
            F.sum(F.when(F.col("n_match") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_suspect"),
            F.round(
                F.sum(F.when(F.col("n_match") == 0, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("suspect_share"),
        )
        .withColumnRenamed("q_type", "event_type")
    )



@register(
    "q368_nearest_centroid_confusion",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, i - 1 AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               + 10000000 AS xu
      FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
    ), cent AS (
      SELECT label AS clabel, dim, SUM(xu) // COUNT(*) AS cu
      FROM ex GROUP BY 1, 2
    ), d AS (
      SELECT e.vec_id, e.label, c.clabel,
             SUM((e.xu - c.cu) * (e.xu - c.cu)) AS d2
      FROM ex e JOIN cent c ON c.dim = e.dim
      GROUP BY 1, 2, 3
    ), pred AS (
      SELECT vec_id, label,
             clabel AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, clabel) AS rn
      FROM d
    )
    SELECT label AS true_label, pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def q368_nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X298 — nearest-centroid classifier confusion matrix over the
    embedding table: per-label centroids, every vector assigned to its
    closest centroid, (true, predicted) counts — the quickest
    label-quality / cluster-separability diagnostic before training a
    probe.

    Engine-exactness: coordinates are quantized to integer micro-units
    (with a +10⁷ shift so all values are nonnegative — Spark's DIV
    truncates toward zero while DuckDB's // floors, and they agree only
    on nonnegative operands); the centroid is the FLOOR of the exact
    mean in micro-units (a defined, reproducible quantization), so
    every squared distance is an exact int64 sum (≤64·(2·10⁷)² ≈
    2.6·10¹⁶) and argmin ties break on label. Zero float anywhere.

    Scale: explode to (vector, dim) rows once; centroids are a
    64·|labels| relation joined back per-dim (broadcast), partial-agg
    collapses dims before the (vec, label) exchange."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "vec_id",
        "label",
        "dim",
        (
            F.round(F.col("x").cast("double") * 1000000).cast("long")
            + 10000000
        ).alias("xu"),
    )
    cent = ex.groupBy(F.col("label").alias("clabel"), "dim").agg(
        F.expr("SUM(xu) DIV COUNT(*)").alias("cu")
    )
    d = (
        ex.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum(
                (F.col("xu") - F.col("cu")) * (F.col("xu") - F.col("cu"))
            ).alias("d2")
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    pred = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return pred.groupBy(
        F.col("label").alias("true_label"),
        F.col("clabel").alias("pred_label"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))



@register(
    "q371_stratified_kfold",
    oracle="""
    WITH ranked AS (
      SELECT vec_id, label,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY md5('kfold:' || vec_id), vec_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY label) AS n_label
      FROM embeddings
    )
    SELECT CAST((rn - 1) % 5 AS BIGINT) AS fold, label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(n_label) AS BIGINT) AS n_label,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MAX(n_label), 6) AS share
    FROM ranked GROUP BY 1, 2
    """,
)
def q371_stratified_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X301 — stratified k-fold assignment + balance audit: within each
    label, rows are ordered by a seeded deterministic hash (the q191
    md5 convention — reproducible "randomness" both engines compute
    identically) and dealt round-robin into 5 folds, guaranteeing
    per-label fold sizes within ±1 — the assignment eval pipelines need
    before cross-validation. The output is the audit matrix
    (fold × label counts and shares); the fold column itself is the
    assignment rule, reusable as a projection.

    Scale: one window per label partition, one aggregate — a single
    exchange on label; no joins, no collect."""
    emb = load(spark, sf_dir, "embeddings")
    w = Window.partitionBy("label").orderBy(
        F.md5(F.concat(F.lit("kfold:"), F.col("vec_id").cast("string"))),
        "vec_id",
    )
    w_all = Window.partitionBy("label")
    ranked = emb.select(
        "label",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_label"),
    )
    return (
        ranked.groupBy(((F.col("rn") - 1) % 5).alias("fold"), "label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.max("n_label").cast("long").alias("n_label"),
        )
        .select(
            F.col("fold").cast("long").alias("fold"),
            "label",
            "n",
            "n_label",
            F.round(F.col("n").cast("double") / F.col("n_label"), 6).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Round 6: hashed-gram novelty twin (q372)
# ---------------------------------------------------------------------------



@register(
    "q381_knn_adaptive_radius",
    allow_non_equi=(
        "deliberate SINGLE-ROW broadcast cross joins of the ref-density "
        "stats row (count + extents -> radius) onto points and refs - "
        "group-cardinality, never row-level"
    ),
    oracle="""
    WITH pts AS (
      SELECT event_id,
             CAST(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                                           1, 6)) AS BIGINT) % 1800
                  AS DOUBLE)/10.0 - 90.0 AS lat,
             CAST(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                                           7, 6)) AS BIGINT) % 3600
                  AS DOUBLE)/10.0 - 180.0 AS lon
      FROM events
    ), refs AS (
      SELECT event_id AS ref_id, lat AS rlat, lon AS rlon
      FROM pts WHERE event_id % 97 = 0
    ), st AS (
      SELECT COUNT(*) AS n_refs,
             MIN(rlat) AS minlat, MAX(rlat) AS maxlat,
             MIN(rlon) AS minlon, MAX(rlon) AS maxlon
      FROM refs
    ), rr AS (
      SELECT n_refs,
             GREATEST(LEAST(sqrt((24.0 * (maxlat - minlat) * (maxlon - minlon))
                        / (3.141592653589793 * n_refs)), 90.0), 0.000001) AS r
      FROM st
    ), rc AS (
      SELECT ref_id, rlat, rlon, r,
             FLOOR(rlat / r) + dy.d AS cy, FLOOR(rlon / r) + dx.d AS cx
      FROM refs CROSS JOIN rr
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS d) dy
      CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS d) dx
    ), q AS (
      SELECT event_id, lat, lon, FLOOR(lat / r) AS cy, FLOOR(lon / r) AS cx
      FROM pts CROSS JOIN rr
    ), cand AS (
      SELECT q.event_id, rc.ref_id,
             (q.lat - rc.rlat)*(q.lat - rc.rlat)
             + (q.lon - rc.rlon)*(q.lon - rc.rlon) AS dist2,
             rc.r
      FROM q JOIN rc USING (cy, cx)
      WHERE q.event_id <> rc.ref_id
        AND (q.lat - rc.rlat)*(q.lat - rc.rlat)
            + (q.lon - rc.rlon)*(q.lon - rc.rlon) <= rc.r * rc.r
    ), ranked AS (
      SELECT event_id, ref_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY event_id
                                ORDER BY dist2, ref_id) AS knn_rank
      FROM cand
    )
    SELECT CAST(knn_rank AS BIGINT) AS knn_rank,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT ref_id) AS BIGINT) AS n_distinct_refs,
           CAST(SUM(CAST(FLOOR(sqrt(dist2) * 100.0) AS BIGINT))
                // COUNT(*) AS BIGINT) AS mean_dist_cdeg
    FROM ranked WHERE knn_rank <= 3
    GROUP BY knn_rank
    """,
)
def q381_knn_adaptive_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X311 — DENSITY-ADAPTIVE kNN radius: the spatial analog of
    lsh_geometry_for (q344). The round-6 decade probe measured q364's
    fixed 6°-radius grid-kNN at exponent 1.39 — with a fixed radius,
    per-cell density grows ∝ n, so candidates per point grow ∝ n and
    total work ∝ n². The escape is the same corpus-sized-geometry move:
    size the radius FROM the data, r = √(c·k·A/(π·n_refs)) (expected
    refs inside the circle ≈ c·k = 24, constant), so per-point candidate
    volume stays O(k) at any density and total work stays ~linear. The
    radius derives from one count+extent aggregate — the same bounded
    stats action as q344's corpus count — and is data-identical on both
    engines: IEEE-exact-rounded *, /, √ on the same inputs in the same
    order, literal π, LEAST-clamped at 90°.

    Semantics: k=3 nearest within the adaptive radius (points in sparse
    pockets may return fewer — both engines agree exactly, the oracle
    shares the radius formula). Distances reported as exact integer
    centi-degrees (floor(√d·100) — total integer order, order-free sum).

    Scale: grid cell size == radius keeps the 3×3 neighborhood a
    complete candidate set (grid_knn_join's exactness argument) at any
    corpus size; the ref side explodes ×9 and broadcasts.

    Coordinates are hash-derived (md5 of event_id, two disjoint 24-bit
    substrings for lat/lon) rather than the modular event-id lattice
    other spatial probes use: the lattice puts every point on slope-7
    1D LINES (3,600 distinct positions total), which violates the
    2D-uniformity the adaptive-radius formula assumes — round 7
    measured candidates/point GROWING 34.9→53.8 across the probe
    decade on lattice coords (the O(k) invariant only holds against
    the assumed density model) vs flat on hash coords. Both engines
    compute the identical hash, so the gate stays exact."""
    ev = load(spark, sf_dir, "events")
    idmd = F.md5(F.col("event_id").cast("string"))
    pts = ev.select(
        "event_id",
        (
            F.conv(F.substring(idmd, 1, 6), 16, 10).cast("long") % 1800
        ).cast("double").alias("lat"),
        (
            F.conv(F.substring(idmd, 7, 6), 16, 10).cast("long") % 3600
        ).cast("double").alias("lon"),
    ).select(
        "event_id",
        (F.col("lat") / 10.0 - 90.0).alias("lat"),
        (F.col("lon") / 10.0 - 180.0).alias("lon"),
    )
    # refs feeds TWO plan references (the stats aggregate and the ×9 cell
    # explode), each of which re-ran the events scan + md5 projection;
    # the cached sample is ~1% of events at 24 B/row (round 11 — the
    # q172 single-subtree treatment, via the bounded cache registry)
    refs = query_scoped_cache(
        pts.filter(F.col("event_id") % 97 == 0).select(
            F.col("event_id").alias("ref_id"),
            F.col("lat").alias("rlat"),
            F.col("lon").alias("rlon"),
        )
    )
    st = refs.agg(
        F.count(F.lit(1)).alias("n_refs"),
        F.min("rlat").alias("minlat"),
        F.max("rlat").alias("maxlat"),
        F.min("rlon").alias("minlon"),
        F.max("rlon").alias("maxlon"),
    )
    # GREATEST(..., 1e-6): a degenerate reference extent (single ref, or
    # all refs sharing a lat/lon) would give r=0 and divide the cell keys
    # by zero (NaN cells -> silently empty result); the epsilon floor keeps
    # the query well-defined and is mirrored in the oracle.
    # the 1-row radius relation broadcasts to BOTH the point and ref
    # sides; cached so the count+extent aggregate runs once, not twice
    rr = query_scoped_cache(
        st.select(
            F.expr(
                "GREATEST(LEAST(sqrt((24.0 * (maxlat - minlat) * (maxlon - minlon))"
                " / (3.141592653589793 * n_refs)), 90.0), 0.000001)"
            ).alias("r")
        )
    )
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    rc = (
        refs.crossJoin(F.broadcast(rr))
        .withColumn("dy", F.explode(off))
        .withColumn("dx", F.explode(off))
        .select(
            (F.floor(F.col("rlat") / F.col("r")) + F.col("dy")).alias("cy"),
            (F.floor(F.col("rlon") / F.col("r")) + F.col("dx")).alias("cx"),
            "ref_id",
            "rlat",
            "rlon",
            "r",
        )
    )
    # Repartition the POINT side by cell BEFORE the broadcast join: the
    # broadcast hash join preserves this partitioning, and the ranking
    # window below declares (cy, cx, event_id) — a superset of the hash
    # keys — so Catalyst reuses THIS exchange instead of shuffling the
    # ~k-per-point CANDIDATE stream (the candidate exchange was the
    # dominant super-constant at decade-B; points are 1/k the rows).
    # Each event has exactly one (cy, cx), so per-(cy, cx, event_id)
    # ranks equal per-event ranks.
    q = (
        pts.crossJoin(F.broadcast(rr))
        .select(
            "event_id",
            "lat",
            "lon",
            F.floor(F.col("lat") / F.col("r")).alias("cy"),
            F.floor(F.col("lon") / F.col("r")).alias("cx"),
        )
        .repartition(F.col("cy"), F.col("cx"))
    )
    dist2 = (F.col("lat") - F.col("rlat")) * (F.col("lat") - F.col("rlat")) + (
        F.col("lon") - F.col("rlon")
    ) * (F.col("lon") - F.col("rlon"))
    cand = (
        q.join(F.broadcast(rc), ["cy", "cx"])
        .filter(F.col("event_id") != F.col("ref_id"))
        .select(
            "cy", "cx", "event_id", "ref_id", dist2.alias("dist2"), "r"
        )
        .filter(F.col("dist2") <= F.col("r") * F.col("r"))
    )
    w = Window.partitionBy("cy", "cx", "event_id").orderBy(
        "dist2", "ref_id"
    )
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= 3)
        .groupBy(F.col("knn_rank").cast("long").alias("knn_rank"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.countDistinct("ref_id").cast("long").alias("n_distinct_refs"),
            F.expr(
                "SUM(CAST(FLOOR(sqrt(dist2) * 100.0) AS BIGINT)) DIV COUNT(*)"
            )
            .cast("long")
            .alias("mean_dist_cdeg"),
        )
    )



@register("q384_cosine_lsh_portable",
          oracle=_cosine_lsh_portable_oracle(0.45, 4, 12))
def q384_cosine_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X314 — cosine near-dup via hyperplane LSH with a PORTABLE
    deterministic ±1 plane family: the first fully ORACLE-CHECKED
    member of the embedding-LSH family (q47/q344/q33 use the fast
    numpy-Gaussian family — engine-private, rows-only). Together with
    q383 (portable minhash) and q28 (portable simhash), every LSH
    modality now has a hash-checked anchor: signatures, bucket keys,
    the first-agreeing-table candidate dedup and the exact-cosine
    verify all reproduce bit-identically on DuckDB.

    See ``operators/similarity.py:cosine_near_duplicates_portable``
    for the Rademacher-family argument and the float-determinism
    conventions (left-fold dots, ≥0→1 tie rule, q46's 4-dp rounded
    verify)."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_near_duplicates_portable,
    )

    emb = load(spark, sf_dir, "embeddings")
    # t=0.45 with (4 planes, 12 tables): recall 1-(1-p^4)^12 = 0.90 at
    # the boundary, and — unlike the dedup-regime 0.85 — NON-EMPTY on
    # the driver corpus (14 true pairs >= 0.45 at sf0.01; its planted
    # cosine dups live near 0.4-0.5), so the oracle gate is checking
    # real pairs, not 0 == 0.
    return cosine_near_duplicates_portable(
        emb, dim=64, threshold=0.45, n_planes=4, n_tables=12
    )



@register("q394_product_quantization_portable", oracle=_pq_oracle())
def q394_product_quantization_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X324 — PORTABLE PRODUCT QUANTIZATION (Jégou et al. 2011): each
    64-dim embedding compressed to 8 sub-codes (8 subspaces × 8
    centroids → 3 bits each, 24 bits/vector vs 2048) by per-subspace
    nearest-centroid assignment, with the exact reconstruction error
    (sum of squared distances to the chosen centroids) emitted in
    integer micro-units. PQ is THE memory layout behind IVF-ADC ANN
    serving (q55's list-probing + PQ codes = FAISS IVFADC); this gives
    the engine the code-assignment kernel as a hash-checked relational
    operator. The codebook is the q384 portable-family move: md5-derived
    two-decimal literals both engines parse identically; distances are
    fixed-order sums, argmin ties break to the lowest index via an
    identical-text CASE/LEAST chain (k-means-trained codebooks swap in
    without changing the plan — q318 trains them).

    Scale: pure row-local projection — zero shuffles, zero joins; 64
    distance expressions per row inside whole-stage codegen. At 100 TB
    the quantization pass is scan-bound, exactly what a compression
    kernel should be."""
    emb = load(spark, sf_dir, "embeddings")
    dists, codes, mins = _pq_exprs("CAST(element_at(embedding, {i}) AS DOUBLE)")
    d = emb.select(
        "vec_id", *[F.expr(t).alias(n) for n, t in dists]
    )
    code_col = F.concat(
        *[F.expr(c).cast("string") for c in codes]
    )
    err_col = F.expr(" + ".join(mins))
    return d.select(
        "vec_id",
        code_col.alias("pq_code"),
        F.floor(err_col * 1000000).cast("long").alias("recon_err_e6"),
    )



@register(
    "q400_ivf_adc_portable",
    allow_non_equi=(
        "deliberate bounded cross join of vectors with the 64-row "
        "broadcast PQ codebook relation (per-subspace distance "
        "evaluation) - group-cardinality, never row-level"
    ),
    oracle=_ivf_adc_oracle(),
)
def q400_ivf_adc_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X330 — the FULL ANN SERVING STACK, hash-checked end to end:
    IVF-ADC (FAISS's IVFADC layout, Jégou et al. 2011) with a portable
    coarse quantizer (q384's Rademacher hyperplanes → 64 inverted
    lists) over PQ-compressed base vectors (q394's codebook), queried
    by ASYMMETRIC DISTANCE COMPUTATION: each query precomputes its
    8×8 subspace-distance LUT once, then every candidate's distance is
    8 integer LUT lookups summed — never touching the base vectors.
    Top-10 per query by (ADC, id). Composes the round's portable
    anchors into the actual serving topology: coarse bucketing bounds
    candidates (probed-list-sized), PQ codes shrink the index 85×, the
    LUT join replaces all float math at query time. LUT entries are
    floored to integer micro-units BEFORE summation so the ADC total is
    order-free on both engines.

    Plan: codebook (64 rows) and query LUTs broadcast; the base-side
    code assignment is one broadcast-join + min-struct rollup (shuffle
    on (vec, s), map-side combinable); candidates come from the
    bucket equi-join; the ADC join touches |candidates|×8 rows.

    Scale: at corpus size the coarse quantizer grows like q344
    (planes ~ log2 n → lists ~ n, candidates/query bounded); the ADC
    path is the memory-bound layout real serving uses — this query is
    the correctness anchor for it (q55's IVF is the measured scale
    probe)."""
    from pyspark.sql import Row

    emb = load(spark, sf_dir, "embeddings")
    cb_rows = [
        Row(s=s, k=k, **{f"c{d+1}": float(v) for d, v in enumerate(_pq_codebook()[s][k])})
        for s in range(_PQ_M)
        for k in range(_PQ_K)
    ]
    cb = spark.createDataFrame(cb_rows)
    bucket = F.expr(
        _ivf_adc_bucket_expr("CAST(element_at(embedding, {i}) AS DOUBLE)")
    )
    v = emb.select("vec_id", "embedding", bucket.alias("bkt"))
    dist = F.expr(
        _ivf_adc_dist_expr(
            "CAST(element_at(e.embedding, CAST({i} AS INT)) AS DOUBLE)"
        )
    )
    pd = v.alias("e").crossJoin(F.broadcast(cb)).select(
        F.col("e.vec_id").alias("vec_id"), "s", "k", dist.alias("d2")
    )
    codes = (
        pd.groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "k")).alias("m"))
        .select("vec_id", "s", F.col("m.k").alias("k"))
    )
    lut = pd.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("q_id"),
        "s",
        "k",
        F.floor(F.col("d2") * 1000000).cast("long").alias("d2_e6"),
    )
    q = v.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("bkt")
    )
    cand = q.join(
        v.select(F.col("vec_id").alias("x_id"), "bkt"), "bkt"
    ).filter(F.col("x_id") != F.col("q_id")).select("q_id", "x_id")
    adc = (
        cand.join(
            codes.select(F.col("vec_id").alias("x_id"), "s", "k"), "x_id"
        )
        .join(F.broadcast(lut), ["q_id", "s", "k"])
        .groupBy("q_id", "x_id")
        .agg(F.sum("d2_e6").alias("adc_e6"))
    )
    w = Window.partitionBy("q_id").orderBy("adc_e6", "x_id")
    return (
        adc.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select(
            "q_id",
            "x_id",
            F.col("adc_e6").cast("long").alias("adc_e6"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )



@register(
    "q401_pq_codebook_balance",
    allow_non_equi=(
        "deliberate SINGLE-ROW broadcast cross join attaching the "
        "corpus-size scalar to the per-subspace rollup - "
        "group-cardinality, never row-level"
    ),
    oracle=_pq_code_oracle_cte()
    + """
    , cells AS (
      SELECT s, k, COUNT(*) AS n FROM assign GROUP BY s, k
    ), tot AS (SELECT COUNT(*) AS n_vec FROM embeddings)
    SELECT s,
           CAST(COUNT(*) AS BIGINT) AS n_codes_used,
           CAST(MAX(n) AS BIGINT) AS max_cell,
           ROUND(SUM(CAST(n AS DOUBLE) * n) * 8.0
                 / (CAST(t.n_vec AS DOUBLE) * t.n_vec), 6)
             AS imbalance_factor,
           ROUND(-SUM((CAST(n AS DOUBLE) / t.n_vec)
                      * ln(CAST(n AS DOUBLE) / t.n_vec)) / ln(8.0), 6)
             AS utilization_entropy
    FROM cells CROSS JOIN tot t
    GROUP BY s, t.n_vec
    """,
)
def q401_pq_codebook_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X331 — PQ CODEBOOK-BALANCE AUDIT: per subspace, how evenly the
    corpus spreads over the 8 codes — codes used, largest cell, the
    FAISS imbalance factor K·Σp² (1.0 = perfectly balanced, K = one
    cell holds everything; quantizer-health metric served alongside
    every FAISS index), and normalized utilization entropy. A skewed
    subspace means its codebook wastes bits and ADC (q400) loses
    resolution — this is the audit that tells you to retrain the
    codebook (q318's k-means) on your corpus instead of shipping the
    default. Assignment is q394's identical-text construction, so the
    audit itself is hash-checked.

    Scale: row-local assignment → one ≤64-cell rollup; the corpus is
    touched once with zero joins on the big side."""
    emb = load(spark, sf_dir, "embeddings")
    dists, codes, _ = _pq_exprs(
        "CAST(element_at(embedding, CAST({i} AS INT)) AS DOUBLE)"
    )
    d = emb.select("vec_id", *[F.expr(t).alias(n) for n, t in dists])
    assign = None
    for s in range(_PQ_M):
        part = d.select(
            "vec_id", F.lit(s).alias("s"), F.expr(codes[s]).alias("k")
        )
        assign = part if assign is None else assign.unionByName(part)
    cells = assign.groupBy("s", "k").agg(F.count(F.lit(1)).alias("n"))
    tot = emb.agg(F.count(F.lit(1)).alias("n_vec"))
    p = F.col("n").cast("double") / F.col("n_vec")
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("s", "n_vec")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_codes_used"),
            F.max("n").cast("long").alias("max_cell"),
            F.round(
                F.sum(F.col("n").cast("double") * F.col("n"))
                * 8.0
                / (F.col("n_vec").cast("double") * F.col("n_vec")),
                6,
            ).alias("imbalance_factor"),
            F.round(
                -F.sum(p * F.log(p)) / F.log(F.lit(8.0)), 6
            ).alias("utilization_entropy"),
        )
        .select(
            "s",
            "n_codes_used",
            "max_cell",
            "imbalance_factor",
            "utilization_entropy",
        )
    )


# Poisson(1) CDF thresholds as shared literals (identical text in both
# engines): weight w = first k with u < F(k), else 8.

@register(
    "q412_mann_whitney_u",
    oracle=f"""
    WITH v AS (
      SELECT dayofweek(CAST(ts AS DATE)) AS wd,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g1,
             CAST(ROUND(value * 100) AS BIGINT) AS vc
      FROM events
    ), grp AS (
      SELECT wd, vc,
             CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(g1) AS BIGINT) AS t1
      FROM v GROUP BY wd, vc
    ), rk AS (
      SELECT wd, vc, t, t1,
             COALESCE(SUM(t) OVER (PARTITION BY wd ORDER BY vc
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS below
      FROM grp
    ), agg AS (
      SELECT wd,
             CAST(SUM(t1) AS BIGINT) AS n1,
             CAST(SUM(t - t1) AS BIGINT) AS n2,
             CAST(SUM(t1 * (2 * (below + 1) + t - 1)) AS BIGINT) AS r1x2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS ties
      FROM rk GROUP BY wd
    ), z AS (
      SELECT wd, n1, n2,
             r1x2 - n1 * (n1 + 1) AS u2,
             (CAST(n1 AS DOUBLE) * n2 / 12.0)
             * ((n1 + n2 + 1.0)
                - CAST(ties AS DOUBLE)
                  / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1.0))) AS varu
      FROM agg
    ), stat AS (
      SELECT wd, n1, n2, u2, varu,
             (CAST(u2 AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
             / (2.0 * SQRT(GREATEST(varu, 1e-9))) AS z
      FROM z
    )
    SELECT wd AS weekday,
           n1, n2,
           ROUND(CAST(u2 AS DOUBLE) / 2.0, 1) AS u_stat,
           ROUND(z, 6) AS z_score,
           ROUND({_P_TWO_SIDED_EXPR}, 6) AS p_value
    FROM (SELECT *, ABS(z) AS az,
                 1.0 / (1.0 + 0.2316419 * ABS(z)) AS tt
          FROM stat)
    """,
)
def q412_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X342 — MANN–WHITNEY U rank-sum test (tie-corrected normal
    approximation), purchase vs non-purchase value distributions per
    weekday: the nonparametric two-sample test a metrics platform
    reaches for when value distributions are heavy-tailed and the
    t-test's mean is the wrong summary (complements exact-KS q202/q374,
    which tests SHAPE — U tests stochastic dominance and has the
    standard z form). Average ranks never materialize per row: tied
    ranks collapse to the (value-group, tie-count) grain, the doubled
    rank-sum 2·R1 = Σ t1·(2·(below+1)+t−1) stays in exact int64, and
    the tie correction Σ(t³−t) is an integer aggregate — so U and its
    moments are engine-exact and only the final z/p divisions are
    float (shared-text normal polynomial, the q409 discipline).

    Scale: one aggregate to (weekday, value) grain, a per-weekday
    prefix sum at that GROUP grain (partitioned window, not global),
    and a final 7-row reduce; map-side combine everywhere."""
    ev = load(spark, sf_dir, "events")
    v = ev.select(
        (F.dayofweek(F.to_date("ts")) - 1).cast("long").alias("wd"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g1"),
        cents(F.col("value")).alias("vc"),
    )
    grp = v.groupBy("wd", "vc").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("g1").cast("long").alias("t1"),
    )
    wwd = (
        Window.partitionBy("wd")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    rk = grp.select(
        "wd",
        "vc",
        "t",
        "t1",
        F.coalesce(F.sum("t").over(wwd), F.lit(0)).alias("below"),
    )
    agg = rk.groupBy("wd").agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum(F.col("t") - F.col("t1")).cast("long").alias("n2"),
        F.sum(
            F.col("t1") * (2 * (F.col("below") + 1) + F.col("t") - 1)
        )
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("ties"),
    )
    stat = agg.select(
        "wd",
        "n1",
        "n2",
        (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)).alias("u2"),
        (
            (F.col("n1").cast("double") * F.col("n2") / 12.0)
            * (
                (F.col("n1") + F.col("n2") + 1.0)
                - F.col("ties").cast("double")
                / (
                    (F.col("n1") + F.col("n2")).cast("double")
                    * (F.col("n1") + F.col("n2") - 1.0)
                )
            )
        ).alias("varu"),
    ).withColumn(
        "z",
        (F.col("u2").cast("double") - F.col("n1").cast("double") * F.col("n2"))
        / (2.0 * F.sqrt(F.greatest(F.col("varu"), F.lit(1e-9)))),
    )
    return (
        stat.withColumn("az", F.expr("ABS(z)"))
        .withColumn("tt", F.expr("1.0 / (1.0 + 0.2316419 * ABS(z))"))
        .select(
            F.col("wd").alias("weekday"),
            "n1",
            "n2",
            F.round(F.col("u2").cast("double") / 2.0, 1).alias("u_stat"),
            F.round("z", 6).alias("z_score"),
            F.round(F.expr(_P_TWO_SIDED_EXPR), 6).alias("p_value"),
        )
    )



@register(
    "q424_mmr_rerank",
    allow_non_equi=(
        "the 10-query embedding side broadcasts against the corpus for "
        "candidate generation (the q32 bounded-query-side shape); all "
        "MMR rounds are keyed equi-joins on the 80-row candidate table"
    ),
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    s AS (
      SELECT qid, cid,
             ROUND({_MMR_DOT.format(a="qe", b="ce")}
               / (SQRT({_MMR_DOT.format(a="qe", b="qe")})
                  * SQRT({_MMR_DOT.format(a="ce", b="ce")})), 6) AS srel
      FROM q, c WHERE cid <> qid
    ), cand AS MATERIALIZED (
      SELECT qid, cid, srel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY srel DESC, cid) AS rk
        FROM s
      ) WHERE rk <= 8
    ), sim AS MATERIALIZED (
      SELECT a.qid, a.cid AS a, b.cid AS b,
             ROUND({_MMR_DOT.format(a="ea.embedding", b="eb.embedding")}
               / (SQRT({_MMR_DOT.format(a="ea.embedding", b="ea.embedding")})
                  * SQRT({_MMR_DOT.format(a="eb.embedding",
                                          b="eb.embedding")})), 6) AS sim
      FROM cand a
      JOIN cand b ON b.qid = a.qid AND b.cid <> a.cid
      JOIN embeddings ea ON ea.vec_id = a.cid
      JOIN embeddings eb ON eb.vec_id = b.cid
    ), pick1 AS MATERIALIZED (
      SELECT qid, cid, srel AS mmr FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY srel DESC, cid) AS prk
        FROM cand
      ) WHERE prk = 1
    ), rem2 AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM pick1 p
                        WHERE p.qid = c.qid AND p.cid = c.cid)
    ), scored2 AS (
      SELECT r.qid, r.cid,
             0.7 * r.srel - 0.3 * MAX(s.sim) AS mmr
      FROM rem2 r
      JOIN sim s ON s.qid = r.qid AND s.a = r.cid
      JOIN pick1 p ON p.qid = s.qid AND p.cid = s.b
      GROUP BY r.qid, r.cid, r.srel
    ), pick2 AS MATERIALIZED (
      SELECT qid, cid, mmr FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY mmr DESC, cid) AS prk
        FROM scored2
      ) WHERE prk = 1
    ), sel2 AS (
      SELECT qid, cid FROM pick1 UNION ALL SELECT qid, cid FROM pick2
    ), rem3 AS (
      SELECT c.* FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM sel2 p
                        WHERE p.qid = c.qid AND p.cid = c.cid)
    ), scored3 AS (
      SELECT r.qid, r.cid,
             0.7 * r.srel - 0.3 * MAX(s.sim) AS mmr
      FROM rem3 r
      JOIN sim s ON s.qid = r.qid AND s.a = r.cid
      JOIN sel2 p ON p.qid = s.qid AND p.cid = s.b
      GROUP BY r.qid, r.cid, r.srel
    ), pick3 AS MATERIALIZED (
      SELECT qid, cid, mmr FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY mmr DESC, cid) AS prk
        FROM scored3
      ) WHERE prk = 1
    )
    SELECT qid AS query_id, CAST(1 AS BIGINT) AS pick_rank,
           cid AS picked_id, ROUND(mmr, 6) AS mmr_score FROM pick1
    UNION ALL
    SELECT qid, CAST(2 AS BIGINT), cid, ROUND(mmr, 6) FROM pick2
    UNION ALL
    SELECT qid, CAST(3 AS BIGINT), cid, ROUND(mmr, 6) FROM pick3
    """,
)
def q424_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X354 — MAXIMAL MARGINAL RELEVANCE re-ranking (Carbonell &
    Goldstein 1998, the diversity-aware rerank every RAG retriever
    ships): from each query's top-8 cosine candidates, greedily pick 3
    results maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    picked (λ=0.7) — near-duplicate candidates (exactly what a
    near-dup-heavy corpus returns, see q47) stop crowding out coverage.
    The inherently sequential greedy loop is unrolled into three
    relational rounds at PER-QUERY grain: each round is an anti-join
    (drop picked), an equi-join against the candidate-pair similarity
    table + max-aggregate (the diversity penalty), and a combinable
    struct-argmax pick with (score, -id) tie-breaks; relevance and
    similarity are rounded to the 1e-6 grain BEFORE any comparison so
    both engines pick identical winners.

    Scale: candidate generation is q32's bounded-query broadcast; the
    rounds touch only |queries|·8 candidate rows and |queries|·8·7
    similarity rows. Selection depth k multiplies plan stages, not
    data."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 10)
    cand = (
        brute_force_topk(
            emb, queries_df, id_col="vec_id", vec_col="embedding", k=8
        )
        .select(
            F.col("query_id").alias("qid"),
            F.col("neighbor_id").alias("cid"),
            F.col("score").alias("srel"),
        )
    )
    ea = emb.select(F.col("vec_id").alias("a"), F.col("embedding").alias("va"))
    eb = emb.select(F.col("vec_id").alias("b"), F.col("embedding").alias("vb"))
    pair = (
        cand.select("qid", F.col("cid").alias("a"))
        .join(
            cand.select(F.col("qid"), F.col("cid").alias("b")),
            "qid",
        )
        .filter(F.col("a") != F.col("b"))
        .join(F.broadcast(ea), "a")
        .join(F.broadcast(eb), "b")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            F.zip_with("va", "va", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    nb = F.sqrt(
        F.aggregate(
            F.zip_with("vb", "vb", lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    sim = pair.select(
        "qid", "a", "b", F.round(dot / (na * nb), 6).alias("sim")
    )

    def argmax_pick(df: DataFrame, score: str) -> DataFrame:
        return df.groupBy("qid").agg(
            F.max(F.struct(F.col(score), (-F.col("cid")).alias("_t"))).alias("m")
        ).select(
            "qid",
            (-F.col("m._t")).alias("cid"),
            F.col(f"m.{score}").alias("mmr"),
        )

    def mmr_round(remaining: DataFrame, selected: DataFrame) -> DataFrame:
        """score remaining candidates against the selected set."""
        simr = sim.select(
            F.col("qid").alias("sqid"),
            F.col("a").alias("sa"),
            F.col("b").alias("sb"),
            F.col("sim").alias("s_sim"),
        )
        selr = selected.select(
            F.col("qid").alias("pqid"), F.col("cid").alias("pcid")
        )
        return (
            remaining.join(
                simr,
                (F.col("sqid") == F.col("qid")) & (F.col("sa") == F.col("cid")),
            )
            .join(
                selr,
                (F.col("pqid") == F.col("qid")) & (F.col("pcid") == F.col("sb")),
            )
            .groupBy("qid", "cid", "srel")
            .agg(F.max("s_sim").alias("max_sim"))
            .select(
                "qid",
                "cid",
                (0.7 * F.col("srel") - 0.3 * F.col("max_sim")).alias("srel"),
            )
        )

    pick1 = argmax_pick(cand, "srel")
    sel1 = pick1.select("qid", "cid")
    pick2 = argmax_pick(
        mmr_round(cand.join(sel1, ["qid", "cid"], "left_anti"), sel1), "srel"
    )
    sel2 = sel1.unionAll(pick2.select("qid", "cid"))
    pick3 = argmax_pick(
        mmr_round(cand.join(sel2, ["qid", "cid"], "left_anti"), sel2), "srel"
    )
    out = (
        pick1.select(
            F.col("qid").alias("query_id"),
            F.lit(1).cast("long").alias("pick_rank"),
            F.col("cid").alias("picked_id"),
            F.round("mmr", 6).alias("mmr_score"),
        )
        .unionAll(
            pick2.select(
                F.col("qid"), F.lit(2).cast("long"), F.col("cid"), F.round("mmr", 6)
            )
        )
        .unionAll(
            pick3.select(
                F.col("qid"), F.lit(3).cast("long"), F.col("cid"), F.round("mmr", 6)
            )
        )
    )
    return out



@register(
    "q432_lsh_recall_audit",
    baseline_only=True,
    allow_non_equi=(
        "four 1-row count aggregates crossJoin-composed into the single "
        "published audit row; the exact side is the deliberate q26-"
        "style co-shingle ground truth this audit exists to measure "
        "against"
    ),
    oracle=_lsh_recall_oracle(),
)
def q432_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X362 — MEASURED LSH RECALL as a first-class, oracle-checked
    query: the portable minhash-LSH pipeline (q383's exact
    construction: md5 60-bit shingles, 32 slots × 8 bands, exact-
    Jaccard verify at t=0.8) audited against the EXACT co-shingle
    ground truth on the same hashed shingle sets — publishing
    n_exact, n_candidates, n_verified, recall and candidate precision
    in one row. Until now the family's recall lived in pytest pins;
    this makes the approximation-quality claim itself a hash-checked
    catalog fact both engines must agree on, and gives operators the
    number they tune bands/rows against (recall < 1 is the designed
    trade — see SCALING.md's LSH sections). baseline_only: the ground-
    truth side is the deliberate O(co-shingle pairs) q26 anchor — run
    the audit on a sample at corpus scale, never on the full corpus.

    Scale: LSH side is q383's measured-0.23-exponent shape; the exact
    side is the audit's purpose and cost."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        _band_pairs,
        _shingle_expr,
        MINHASH_PORTABLE_P,
        minhash_near_duplicates_portable,
        minhash_portable_slot_consts,
    )

    docs = load(spark, sf_dir, "documents")
    p = MINHASH_PORTABLE_P
    sh = (
        docs.select("doc_id", F.explode(_shingle_expr("text", False, 0)).alias("_s"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10)
            .cast("long")
            .alias("h60"),
        )
        .distinct()
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "h60")
    b = sh.select(F.col("doc_id").alias("id_b"), "h60")
    co = (
        a.join(b, "h60")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("i"))
    )
    exact = (
        co.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .filter(
            F.round(
                F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")),
                6,
            )
            >= 0.8
        )
        .select("id_a", "id_b")
    )
    aggs = [
        F.min((F.col("hp") * F.lit(ca) + F.lit(cb)) % p).alias(f"_h{i}")
        for i, (ca, cb) in enumerate(minhash_portable_slot_consts(32))
    ]
    feats = (
        sh.withColumn("hp", F.col("h60") % p)
        .groupBy("doc_id")
        .agg(*aggs)
    )
    cands = _band_pairs(feats, "doc_id", 32, 8)
    verified = minhash_near_duplicates_portable(
        docs, "doc_id", "text", threshold=0.8
    ).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_cand = cands.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_ver = verified.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
    n_common = verified.join(exact, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .crossJoin(F.broadcast(n_common))
        .select(
            "n_exact",
            "n_candidates",
            "n_verified",
            "n_common",
            F.round(
                F.col("n_verified").cast("double")
                / F.greatest(F.col("n_exact"), F.lit(1)),
                6,
            ).alias("recall"),
            F.round(
                F.col("n_verified").cast("double")
                / F.greatest(F.col("n_candidates"), F.lit(1)),
                6,
            ).alias("candidate_precision"),
        )
    )



@register(
    "q433_ivf_recall_audit",
    baseline_only=True,
    allow_non_equi=(
        "the bounded query side (vec_id % 17) cross-joins the corpus "
        "for the exact-L2 ground truth this audit measures against, "
        "plus the 64-row PQ codebook broadcast; the 1-row macro-recall "
        "aggregate re-attaches by crossJoin"
    ),
    oracle=_ivf_recall_oracle(),
)
def q433_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X363 — MEASURED ANN RECALL@10 for the IVF-ADC serving stack
    (q400) against exact L2 top-10, per query and macro-averaged —
    the q432 move applied to the vector side: the approximation-
    quality number that justifies serving from coarse lists + PQ codes
    becomes itself an oracle-checked catalog fact. Recall here folds
    BOTH error sources real ANN serving has — coarse-list misses
    (true neighbors living in unprobed buckets) and PQ quantization
    reordering — so this is the end-to-end number a serving team
    tunes nprobe/M/K against, not the per-stage bounds. Exact-side
    distances are rounded to 1e-6 before ranking with id tie-breaks
    (the q32 discipline); the ADC side is integer already.

    baseline_only: the exact-L2 ground truth is a deliberate
    query×corpus scan — audit on a sample at corpus scale (the LSH/
    IVF scale paths stay the production surfaces).

    Scale: ADC side is q400's broadcast-LUT shape; exact side is the
    audit's cost, bounded by the 1/17 query sample."""
    from pyspark.sql import Row

    emb = load(spark, sf_dir, "embeddings")
    adc_topk = get_query("q400_ivf_adc_portable")(spark, sf_dir).select("q_id", "x_id")
    q = emb.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    x = emb.select(F.col("vec_id").alias("x_id"), F.col("embedding").alias("xe"))
    d2 = F.aggregate(
        F.zip_with(
            "qe",
            "xe",
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    exact_topk = (
        x.crossJoin(F.broadcast(q))
        .filter(F.col("x_id") != F.col("q_id"))
        .select("q_id", "x_id", F.round(d2, 6).alias("d2r"))
        .select(
            "q_id",
            "x_id",
            F.row_number()
            .over(Window.partitionBy("q_id").orderBy("d2r", "x_id"))
            .alias("rnk"),
        )
        .filter(F.col("rnk") <= 10)
        .select("q_id", "x_id")
    )
    n_adc = adc_topk.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_adc")
    )
    per_q = (
        exact_topk.join(
            adc_topk.withColumn("hit", F.lit(1)), ["q_id", "x_id"], "left"
        )
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
        .join(F.broadcast(n_adc), "q_id")
    )
    macro = per_q.agg(
        F.round(
            F.sum("n_hits").cast("double") / (10 * F.count(F.lit(1))), 6
        ).alias("macro_recall")
    )
    return per_q.crossJoin(F.broadcast(macro)).select(
        "q_id",
        "n_adc",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / 10, 6).alias("recall_at_10"),
        "macro_recall",
    )




def _opq_signed_perm(dim: int = 64) -> tuple[list[int], list[int]]:
    """Deterministic signed permutation (an orthogonal rotation both
    engines can restate as literal index arithmetic): position i reads
    coordinate perm[i] scaled by sign[i] ∈ {−1, +1}, both md5-derived
    (the q384/q394 portable-family move)."""
    import hashlib

    perm = sorted(
        range(1, dim + 1),
        key=lambda d: hashlib.md5(f"opq:{d}".encode()).hexdigest(),
    )
    sign = [
        1 if hashlib.md5(f"opqs:{d}".encode()).digest()[0] % 2 == 0 else -1
        for d in range(1, dim + 1)
    ]
    return perm, sign


class _OpqElem:
    """Element-accessor template: ``format(i=k)`` returns the SIGNED
    PERMUTED coordinate text, so _pq_exprs builds the rotated-space
    distance expressions from the same code path as the plain ones."""

    def __init__(self, base: str, perm: list[int], sign: list[int]):
        self.base, self.perm, self.sign = base, perm, sign

    def format(self, i: int) -> str:
        return (
            f"({self.sign[i - 1]}.0 * "
            f"{self.base.format(i=self.perm[i - 1])})"
        )


def _opq_oracle() -> str:
    perm, sign = _opq_signed_perm()
    base = "CAST(embedding[{i}] AS DOUBLE)"
    dist_plain, _, mins_plain = _pq_exprs(base)
    dists_rot, _, _ = _pq_exprs(_OpqElem(base, perm, sign))
    plain_sql = ",\n             ".join(f"{t} AS {n}" for n, t in dist_plain)
    rot_sql = ",\n             ".join(
        f"{t} AS r{n}" for n, t in dists_rot
    )
    err_plain = " + ".join(mins_plain)
    # the rotated mins reuse the plain alias names; rebuild with r-prefix
    err_rot = " + ".join(
        "LEAST(" + ", ".join(f"r_pqd{s}_{k}" for k in range(_PQ_K)) + ")"
        for s in range(_PQ_M)
    )
    return f"""
    WITH d AS (
      SELECT vec_id,
             {plain_sql},
             {rot_sql}
      FROM embeddings
    )
    SELECT vec_id,
           CAST(FLOOR(({err_plain}) * 1000000) AS BIGINT) AS err_plain_e6,
           CAST(FLOOR(({err_rot}) * 1000000) AS BIGINT) AS err_rot_e6,
           CAST(CASE WHEN FLOOR(({err_rot}) * 1000000)
                          < FLOOR(({err_plain}) * 1000000)
                     THEN 1 ELSE 0 END AS BIGINT) AS improved
    FROM d
    """


@register("q452_opq_rotation_audit", oracle=_opq_oracle())
def q452_opq_rotation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X382 — OPQ-STYLE ROTATION AUDIT (Ge et al. 2013: Optimized
    Product Quantization rotates the space before quantizing so
    subspaces carry balanced variance): quantize every embedding with
    q394's portable codebook twice — in the original basis and in a
    deterministic SIGNED-PERMUTATION rotation (orthogonal, so true
    distances are preserved; md5-derived like every portable-family
    artifact) — and emit both integer-micro reconstruction errors plus
    the improved flag. This is the measurement OPQ training iterates
    on (rotate → quantize → compare); the engine kernel is the
    paired-error audit, with the rotation swappable for a trained one
    without changing the plan. The rotated distance expressions come
    from the SAME _pq_exprs builder via an element-accessor template
    (signed permuted coordinate text), so both engines parse identical
    arithmetic.

    Scale: pure row-local projection like q394 — zero shuffles, 128
    distance expressions per row inside whole-stage codegen; the audit
    aggregate is one reduce on top if wanted."""
    perm, sign = _opq_signed_perm()
    base = "CAST(element_at(embedding, {i}) AS DOUBLE)"
    dist_plain, _, mins_plain = _pq_exprs(base)
    dists_rot, _, _ = _pq_exprs(_OpqElem(base, perm, sign))
    emb = load(spark, sf_dir, "embeddings")
    d = emb.select(
        "vec_id",
        *[F.expr(t).alias(n) for n, t in dist_plain],
        *[F.expr(t).alias(f"r{n}") for n, t in dists_rot],
    )
    err_plain = F.expr(" + ".join(mins_plain))
    err_rot = F.expr(
        " + ".join(
            "LEAST(" + ", ".join(f"r_pqd{s}_{k}" for k in range(_PQ_K)) + ")"
            for s in range(_PQ_M)
        )
    )
    return d.select(
        "vec_id",
        F.floor(err_plain * 1000000).cast("long").alias("err_plain_e6"),
        F.floor(err_rot * 1000000).cast("long").alias("err_rot_e6"),
        F.when(
            F.floor(err_rot * 1000000) < F.floor(err_plain * 1000000), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("improved"),
    )


@register(
    "q467_query_likelihood_dirichlet",
    allow_non_equi=(
        "one 1-row collection-statistics scalar crossJoin-attached "
        "onto the per-doc tf relation"
    ),
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS dl,
             CAST(len(list_filter(ts, x -> x = 'spark')) AS BIGINT) AS tf_spark,
             CAST(len(list_filter(ts, x -> x = 'join')) AS BIGINT) AS tf_join,
             CAST(len(list_filter(ts, x -> x = 'window')) AS BIGINT) AS tf_window
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> x <> '') AS ts
        FROM documents
      )
    ), stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) AS coll_len,
             CAST(SUM(tf_spark) AS DOUBLE) AS ctf_spark,
             CAST(SUM(tf_join) AS DOUBLE) AS ctf_join,
             CAST(SUM(tf_window) AS DOUBLE) AS ctf_window
      FROM base
    ), scored AS (
      SELECT doc_id, dl, tf_spark, tf_join, tf_window,
             CAST(ROUND(LN((tf_spark + 2000.0 * ctf_spark / coll_len)
                           / (dl + 2000.0)) * 1000000) AS BIGINT)
             + CAST(ROUND(LN((tf_join + 2000.0 * ctf_join / coll_len)
                             / (dl + 2000.0)) * 1000000) AS BIGINT)
             + CAST(ROUND(LN((tf_window + 2000.0 * ctf_window / coll_len)
                             / (dl + 2000.0)) * 1000000) AS BIGINT)
               AS score_micro
      FROM base, stats
    )
    SELECT doc_id, dl AS doc_len, tf_spark, tf_join, tf_window,
           score_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id)
                AS BIGINT) AS rnk
    FROM scored
    ORDER BY score_micro DESC, doc_id
    LIMIT 20
    """,
)
def q467_query_likelihood_dirichlet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X397 — QUERY-LIKELIHOOD retrieval with DIRICHLET smoothing (Zhai
    & Lafferty 2001; μ = 2000), the language-modeling ranking family
    next to q218's BM25 over the same fixed query: score(q, d) =
    Σ_w log((tf + μ·P(w|C)) / (|d| + μ)). The two families disagree
    exactly where hybrid retrieval needs both (QL's length behavior is
    a prior, BM25's a saturation curve), and q227's reciprocal-rank
    fusion is the consumer. Per-term log-scores quantize to integer
    micros BEFORE the 3-term sum (the q218 discipline), so the total
    is order-free; top-20 by (score, doc_id).

    Scale: one token pass to per-doc tf columns (conditional size()
    on the token array — no explode), a 1-row collection-stats
    broadcast, TakeOrdered top-20."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, lambda x: x == F.lit(t)))
            .cast("long")
            .alias(f"tf_{t}")
            for t in ("spark", "join", "window")
        ],
    )
    stats = base.agg(
        F.sum("dl").cast("double").alias("coll_len"),
        *[
            F.sum(f"tf_{t}").cast("double").alias(f"ctf_{t}")
            for t in ("spark", "join", "window")
        ],
    )
    term = lambda t: F.round(
        F.log(
            (F.col(f"tf_{t}") + 2000.0 * F.col(f"ctf_{t}") / F.col("coll_len"))
            / (F.col("dl") + 2000.0)
        )
        * 1000000
    ).cast("long")
    scored = base.crossJoin(F.broadcast(stats)).select(
        "doc_id",
        "dl",
        "tf_spark",
        "tf_join",
        "tf_window",
        (term("spark") + term("join") + term("window")).alias("score_micro"),
    )
    return (
        scored.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("score_micro"), "doc_id")
            ),
        )
        .filter(F.col("rnk") <= 20)
        .select(
            "doc_id",
            F.col("dl").alias("doc_len"),
            "tf_spark",
            "tf_join",
            "tf_window",
            "score_micro",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "q469_source_centroid_drift",
    oracle="""
    WITH dims AS (
      SELECT label, u.i AS i,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000)
                  AS BIGINT) AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ), per AS (
      SELECT label, i,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM dims GROUP BY label, i
    ), gcent AS (
      SELECT i, CAST(SUM(sx) AS BIGINT) AS gx, CAST(SUM(n) AS BIGINT) AS gn
      FROM per GROUP BY i
    ), gaps AS (
      SELECT p.label, p.i, p.n,
             CAST(p.sx AS DOUBLE) / p.n - CAST(g.gx AS DOUBLE) / g.gn AS d
      FROM per p JOIN gcent g USING (i)
    )
    SELECT label,
           CAST(MAX(n) AS BIGINT) AS n_vectors,
           ROUND(SQRT(list_reduce(list_prepend(0.0,
                 list(d * d ORDER BY i)), (acc, v) -> acc + v)) / 1000000.0,
                 6) AS centroid_drift
    FROM gaps GROUP BY label
    """,
)
def q469_source_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X399 — PER-LABEL EMBEDDING-CENTROID DRIFT: L2 distance between
    each label's embedding centroid and the corpus centroid, from
    EXACT integer-micro coordinate sums (the q231/q318 micro-int
    move: coordinates round to 1e-6 once, then every mean is a ratio
    of exact integers). This is embedding-space dataset drift at the
    slice grain — the retrieval-side analog of q140's PSI and q374's
    KS: a label whose centroid sits far from the corpus mean gets
    systematically different ANN recall (IVF probes tune to the global
    density), and a centroid that MOVES between snapshots means the
    upstream encoder or content changed. The 64-term distance folds in
    dimension order (the q448 discipline).

    Scale: one explode to (label, dim) grain — 64 rows per vector
    pre-aggregated map-side; the global centroid derives from the
    per-label sums (no second scan); everything after is
    |labels|×64."""
    emb = load(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label", F.posexplode("embedding").alias("pos", "xf")
    ).select(
        "label",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("xf").cast("double") * 1_000_000).cast("long").alias("x"),
    )
    per = dims.groupBy("label", "i").agg(
        F.sum("x").cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    glob = per.groupBy("i").agg(
        F.sum("sx").cast("long").alias("gx"),
        F.sum("n").cast("long").alias("gn"),
    )
    gaps = per.join(F.broadcast(glob), "i").select(
        "label",
        "i",
        "n",
        (
            F.col("sx").cast("double") / F.col("n")
            - F.col("gx").cast("double") / F.col("gn")
        ).alias("d"),
    )
    return gaps.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.sort_array(
                        F.collect_list(
                            F.struct("i", (F.col("d") * F.col("d")).alias("v"))
                        )
                    ),
                    F.lit(0.0),
                    lambda acc, r: acc + r["v"],
                )
            )
            / 1000000.0,
            6,
        ).alias("centroid_drift"),
    )


@register(
    "q474_lsh_topk_portable",
    oracle=_lsh_topk_portable_oracle(k=5, n_planes=6, n_tables=8),
)
def q474_lsh_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X404 — PORTABLE MULTI-TABLE LSH TOP-K SERVING, hash-checked end
    to end: the q33 serving SHAPE (per-query approximate nearest
    neighbors from the union of 8 hyperplane tables' buckets) rebuilt
    on q384's deterministic ±1 plane family so the WHOLE top-k pipeline
    — signature bits, bucket keys, the per-table candidate union, the
    exact 4-dp cosine scores AND the final (cosine DESC, x_id) ranks —
    reproduces bit-identically on DuckDB. Closes the round-8 verdict's
    last un-anchored rows-only shape: q33 keeps the fast numpy-Gaussian
    family as the production path; THIS query is its oracle-checked
    twin at the same grain (query, neighbor, score, rank).

    Plan: the query side (10 ids × 8 tables = 80 rows) BROADCASTS into
    the stacked (vec_id, tbl, bkt) relation — candidate generation is
    one broadcast equi-join, id-only (no vectors through the shuffle);
    vectors re-attach at |candidates| via two equi-joins; ranking is
    one window partitioned by query.

    Scale: candidates/query are bucket-bounded (64 buckets/table);
    planes grow ~log2 n to hold bucket size (q344's geometry note), and
    the query side of a serving join is small by construction, so the
    broadcast shape IS the 100 TB plan."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_similarity,
        portable_hyperplane_signs,
    )

    n_planes, n_tables, dim, k = 6, 8, 64, 5
    emb = load(spark, sf_dir, "embeddings")
    signs = portable_hyperplane_signs(n_tables, n_planes, dim)
    vec = F.col("embedding")

    def bucket_expr(t: int):
        acc = F.lit(0)
        for j in range(n_planes):
            s_arr = F.array(*[F.lit(float(s)) for s in signs[t][j]])
            dot = F.aggregate(
                F.zip_with(vec, s_arr, lambda x, s: x.cast("double") * s),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            acc = acc + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        return acc

    stacked = emb.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), bucket_expr(t).alias("bkt")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("_b"),
    ).select("vec_id", "_b.tbl", "_b.bkt")
    stacked = query_scoped_cache(stacked)
    # ^ materialized id+key index (round 10, guide §2.4): `stacked`
    # feeds both the corpus side and the query-side filter, so uncached
    # the 48 HOF fold-dots per row ran TWICE; measured 5.6 → 4.1 s at
    # sf0.1 together with the norm precompute below
    q = stacked.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), "tbl", "bkt"
    )
    cand = (
        stacked.join(F.broadcast(q), ["tbl", "bkt"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("x_id"))
        .distinct()
    )
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        _dot,
        _norm,
    )

    # per-vector norm attached with the vector (round 10, guide §4.1):
    # dot/(na·nb) is bit-identical to cosine_similarity (same
    # expressions, same multiply order) but folds each norm once per
    # VECTOR instead of once per candidate pair
    vecs = emb.select("vec_id", vec.alias("_v"), _norm(vec).alias("_nv"))
    pairs = (
        cand.join(vecs.withColumnRenamed("vec_id", "q_id"), "q_id")
        .withColumnRenamed("_v", "_va")
        .withColumnRenamed("_nv", "_na")
        .join(vecs.withColumnRenamed("vec_id", "x_id"), "x_id")
        .withColumnRenamed("_v", "_vb")
        .withColumnRenamed("_nv", "_nb")
    )
    cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "x_id")
    return (
        pairs.select("q_id", "x_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "x_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


@register(
    "q475_ivf_topk_portable",
    oracle=_ivf_topk_portable_oracle(k=5, query_mod=17),
)
def q475_ivf_topk_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X405 — PORTABLE IVF TOP-K SERVING, hash-checked end to end: the
    q55 serving SHAPE (coarse quantizer → probe the query's inverted
    list → exact scoring → top-k) on q400's portable coarse quantizer
    (q384 planes, table 0 → 64 lists), exact 4-dp cosine scoring and
    the deterministic (cosine DESC, x_id) rank order. q55 keeps the
    k-means quantizer as the production path (recall-pinned in
    tests/test_similarity.py); THIS query is its oracle-checked twin at
    the same grain, completing the round-8 verdict ask: every ANN
    serving topology (multi-table LSH q474, IVF q475, IVF-ADC q400)
    now has a hash-gated anchor.

    Plan: one equi-self-join on the list id generates candidates
    (list-size-bounded, the IVF contract), vectors ride the join (the
    list relation is |corpus| rows), one window ranks per query.

    Scale: at corpus size lists grow ~n/64 unless planes grow with
    log2 n (the documented geometry knob); candidates/query stay
    list-bounded — IVF's whole point — and the scoring join never
    exceeds |queries| × |list|."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_similarity,
    )

    k = 5
    emb = load(spark, sf_dir, "embeddings")
    bucket = F.expr(
        _ivf_adc_bucket_expr("CAST(element_at(embedding, {i}) AS DOUBLE)")
    )
    v = emb.select("vec_id", "embedding", bucket.alias("bkt"))
    q = v.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("_va"),
        "bkt",
    )
    cand = (
        v.join(F.broadcast(q), "bkt")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("x_id"),
            "_va",
            F.col("embedding").alias("_vb"),
        )
    )
    cos = F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 4)
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "x_id")
    return (
        cand.select("q_id", "x_id", cos.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "x_id", "cosine", F.col("rnk").cast("long").alias("rnk"))
    )


@register(
    "q485_lsh_param_planner",
    oracle="""
    WITH spine AS (
      SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT) AS rows_per_band
      FROM (VALUES (1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1))
           t(b, r)
    ), probs AS (
      SELECT bands, rows_per_band,
             1.0 - POW(1.0 - POW(0.6, rows_per_band), bands) AS p06,
             1.0 - POW(1.0 - POW(0.8, rows_per_band), bands) AS p08,
             1.0 - POW(1.0 - POW(0.9, rows_per_band), bands) AS p09
      FROM spine
    )
    SELECT bands, rows_per_band,
           ROUND(p06, 6) AS p_at_06,
           ROUND(p08, 6) AS p_at_08,
           ROUND(p09, 6) AS p_at_09,
           ROUND(p09 - p06, 6) AS separation,
           CAST(ROW_NUMBER() OVER (ORDER BY p09 - p06 DESC, bands)
                AS BIGINT) AS rnk
    FROM probs
    """,
)
def q485_lsh_param_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X415 — LSH (bands, rows) PARAMETER PLANNER for a 32-hash MinHash
    budget: for every divisor split b×r = 32, the S-curve collision
    probability 1−(1−s^r)^b evaluated below (s=0.6), at (s=0.8) and
    above (s=0.9) the dedup threshold, ranked by the 0.9-vs-0.6
    SEPARATION — the design table that justifies the engine's own
    (bands, rows) choices (q27 uses 8×4; this query shows 8×4 and 16×2
    dominate the separation ranking at t≈0.8, which IS the published
    rationale). The engine-design-as-a-query pattern: the planner a
    user would otherwise run offline is itself an oracle-checked
    catalog member.

    Scale: a 6-row literal spine — constant regardless of corpus."""
    spine = spark.range(1).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("long").alias("bands"),
                        F.lit(r).cast("long").alias("rows_per_band"),
                    )
                    for b, r in [(1, 32), (2, 16), (4, 8), (8, 4), (16, 2), (32, 1)]
                ]
            )
        ).alias("s")
    ).select("s.bands", "s.rows_per_band")
    probs = spine.select(
        "bands",
        "rows_per_band",
        F.expr("1.0 - POW(1.0 - POW(0.6, rows_per_band), bands)").alias("p06"),
        F.expr("1.0 - POW(1.0 - POW(0.8, rows_per_band), bands)").alias("p08"),
        F.expr("1.0 - POW(1.0 - POW(0.9, rows_per_band), bands)").alias("p09"),
    )
    w = Window.orderBy((F.col("p09") - F.col("p06")).desc(), "bands")
    return probs.select(
        "bands",
        "rows_per_band",
        F.round("p06", 6).alias("p_at_06"),
        F.round("p08", 6).alias("p_at_08"),
        F.round("p09", 6).alias("p_at_09"),
        F.round(F.col("p09") - F.col("p06"), 6).alias("separation"),
        F.row_number().over(w).cast("long").alias("rnk"),
    )


def _ivf_probe_flip_sql(j: int) -> str:
    """Bit-j flip of the coarse bucket in portable integer arithmetic
    (no engine-specific XOR syntax): b + (1 - 2*((b // 2^j) % 2))*2^j."""
    p = 1 << j
    return f"(bkt + (1 - 2 * ((bkt // {p}) % 2)) * {p})"


_Q493_BUCKET_SQL = _ivf_adc_bucket_expr("CAST(embedding[{i}] AS DOUBLE)")


@register(
    "q493_ivf_multiprobe_recall",
    allow_non_equi=(
        "query-side-bounded brute-force truth relation (|queries| x "
        "|corpus| cosine grid, the q32 baseline shape) - query-count "
        "bounded, never corpus x corpus"
    ),
    oracle=f"""
    WITH v AS (
      SELECT vec_id, embedding,
             ({_Q493_BUCKET_SQL})
               AS bkt
      FROM embeddings
    ), q AS (
      SELECT vec_id AS q_id, embedding AS qe, bkt FROM v
      WHERE vec_id % 17 = 0
    ), probes AS (
      SELECT q_id, 0 AS minh, bkt AS pbkt FROM q
      {"".join(f'''
      UNION ALL SELECT q_id, 1, {_ivf_probe_flip_sql(j)} FROM q''' for j in range(6))}
    ), candpairs AS (
      SELECT p.q_id, c.vec_id AS x_id, MIN(p.minh) AS minh
      FROM probes p JOIN v c ON c.bkt = p.pbkt
      WHERE c.vec_id <> p.q_id
      GROUP BY p.q_id, c.vec_id
    ), scored AS (
      SELECT cp.q_id, cp.x_id, cp.minh,
             {_rounded_cosine_sql()} AS cosine
      FROM candpairs cp
      JOIN embeddings a ON a.vec_id = cp.q_id
      JOIN embeddings b ON b.vec_id = cp.x_id
    ), approx AS (
      SELECT h.h, s.q_id, s.x_id,
             ROW_NUMBER() OVER (PARTITION BY h.h, s.q_id
                                ORDER BY s.cosine DESC, s.x_id) AS rnk
      FROM scored s JOIN (SELECT UNNEST([0, 1]) AS h) h
        ON s.minh <= h.h
    ), truth AS (
      SELECT q_id, x_id FROM (
        SELECT q.q_id, c.vec_id AS x_id,
               ROW_NUMBER() OVER (PARTITION BY q.q_id
                 ORDER BY {_rounded_cosine_sql()} DESC, c.vec_id) AS rnk
        FROM q
        JOIN embeddings a ON a.vec_id = q.q_id
        CROSS JOIN embeddings b
        JOIN v c ON c.vec_id = b.vec_id
        WHERE c.vec_id <> q.q_id
      ) WHERE rnk <= 5
    ), cnt AS (
      SELECT h.h,
             CAST(COUNT(DISTINCT s.q_id) AS BIGINT) AS n_queries,
             CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM scored s JOIN (SELECT UNNEST([0, 1]) AS h) h
        ON s.minh <= h.h
      GROUP BY h.h
    ), hits AS (
      SELECT a.h, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM approx a JOIN truth t
        ON t.q_id = a.q_id AND t.x_id = a.x_id
      WHERE a.rnk <= 5
      GROUP BY a.h
    ), tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth)
    SELECT CAST(c.h AS BIGINT) AS nprobe_hamming,
           c.n_queries, c.n_candidates, hits.n_hits, tt.n_truth,
           CAST(hits.n_hits * 1000000 // tt.n_truth AS BIGINT)
             AS recall_ppm
    FROM cnt c JOIN hits ON hits.h = c.h CROSS JOIN tt
    ORDER BY 1
    """,
)
def q493_ivf_multiprobe_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X423 — IVF MULTI-PROBE RECALL SWEEP: the tuning curve behind
    q475's nprobe knob, hash-checked — for probe radius h ∈ {0, 1}
    (own inverted list vs own + all 6 Hamming-1 neighbor lists of the
    portable coarse quantizer), the candidate volume and the exact
    recall@5 against the brute-force truth (q32's baseline shape,
    query-side bounded). This is THE measurement an ANN deployment
    makes before choosing nprobe: h=1 multiplies candidates ~7× and
    buys the recall the single-list probe loses to boundary queries.
    Bucket bit-flips use portable integer arithmetic (no XOR syntax
    divergence); the pair cosine is computed ONCE per candidate and
    reused by both radii; ranks use the (cosine DESC, id) total order.

    Scale: candidates stay list-size-bounded (7/64 of the corpus per
    query at h=1); the truth grid is |queries|×|corpus| — the audit
    cost, run at eval scale, never in serving."""
    emb = load(spark, sf_dir, "embeddings")
    bucket = F.expr(
        _ivf_adc_bucket_expr("CAST(element_at(embedding, {i}) AS DOUBLE)")
    )
    v = emb.select("vec_id", "embedding", bucket.alias("bkt"))
    q = v.filter(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("q_id"), "bkt"
    )
    probe_cols = [
        F.struct(F.lit(0).alias("minh"), F.col("bkt").alias("pbkt"))
    ] + [
        F.struct(
            F.lit(1).alias("minh"),
            F.expr(_ivf_probe_flip_sql(j).replace("//", "DIV")).alias(
                "pbkt"
            ),
        )
        for j in range(6)
    ]
    probes = q.select(
        "q_id", F.explode(F.array(*probe_cols)).alias("p")
    ).select("q_id", "p.minh", "p.pbkt")
    candpairs = (
        v.select(F.col("vec_id").alias("x_id"), "bkt")
        .join(F.broadcast(probes), F.col("bkt") == F.col("pbkt"))
        .filter(F.col("x_id") != F.col("q_id"))
        .groupBy("q_id", "x_id")
        .agg(F.min("minh").alias("minh"))
    )
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_similarity,
    )

    vecs = emb.select("vec_id", F.col("embedding").alias("_v"))
    scored = (
        candpairs.join(vecs.withColumnRenamed("vec_id", "q_id"), "q_id")
        .withColumnRenamed("_v", "_va")
        .join(vecs.withColumnRenamed("vec_id", "x_id"), "x_id")
        .withColumnRenamed("_v", "_vb")
        .select(
            "q_id",
            "x_id",
            "minh",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 4).alias(
                "cosine"
            ),
        )
    )
    hs = spark.range(2).select(F.col("id").cast("int").alias("h"))
    sh = scored.join(F.broadcast(hs), F.col("minh") <= F.col("h"))
    wha = Window.partitionBy("h", "q_id").orderBy(
        F.desc("cosine"), "x_id"
    )
    approx = sh.withColumn("rnk", F.row_number().over(wha)).filter(
        F.col("rnk") <= 5
    )
    qe = q.join(vecs.withColumnRenamed("vec_id", "q_id"), "q_id").select(
        "q_id", F.col("_v").alias("_va")
    )
    wt = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "x_id")
    truth = (
        qe.join(
            F.broadcast(vecs.select(F.col("vec_id").alias("x_id"), F.col("_v").alias("_vb")))
        )
        .filter(F.col("x_id") != F.col("q_id"))
        .select(
            "q_id",
            "x_id",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), 4).alias(
                "cosine"
            ),
        )
        .withColumn("rnk", F.row_number().over(wt))
        .filter(F.col("rnk") <= 5)
        .select("q_id", "x_id")
    )
    cnt = sh.groupBy("h").agg(
        F.countDistinct("q_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
    )
    hits = (
        approx.join(truth, ["q_id", "x_id"])
        .groupBy("h")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    tt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    return (
        cnt.join(hits, "h")
        .join(F.broadcast(tt))
        .select(
            F.col("h").cast("long").alias("nprobe_hamming"),
            "n_queries",
            "n_candidates",
            "n_hits",
            "n_truth",
            F.expr(
                "CAST(n_hits * 1000000 DIV n_truth AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("nprobe_hamming")
    )
