"""Query catalog: every SURVEY.md §2 operator expressed over the driver's
testdata tables, each paired with a DuckDB oracle.

Cross-engine determinism conventions (so the order-insensitive value-hash
matches):

- all output column names lowercase snake_case, aliased identically on both
  sides;
- sums over double columns go through integer cents: ``sum(cast(round(x*100)
  as bigint))`` — exact integer arithmetic is order-independent, unlike
  float summation;
- averages/derived ratios are computed as exact-int-sum / count and
  ``round(..., 6)``;
- time arithmetic uses microseconds (``unix_micros`` ⟷ ``epoch_us``), never
  DuckDB's fractional ``epoch()``;
- every window/top-k order has an id tiebreak so ranks are total.

The mapping reference-operator → query is noted on each entry (SURVEY §2

# --- shared helpers / oracle fragments (moved verbatim from the
# single-file catalog; the round-8 package split) ---

codes: S=sources, P=projections, J=joins, A=aggregations, W=windows,

O=sorts, U=set-ops, D=dedup, T=stateful, Q=SQL corpus).
"""


from __future__ import annotations


import math


from collections.abc import Callable


from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F


from noaa_ais_glue_lakehouse_spark.functions.spatial import grid_cell, haversine_km

from noaa_ais_glue_lakehouse_spark.functions.text import (
    LANG_MARKERS,
    langid_guess,
    quality_features,
    tokenize,
)

from noaa_ais_glue_lakehouse_spark.operators import cleaning
from noaa_ais_glue_lakehouse_spark.operators._cache import (
    query_scoped_cache,
)

from noaa_ais_glue_lakehouse_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs_exact,
    minhash_near_duplicates,
    simhash_near_duplicates,
)

from noaa_ais_glue_lakehouse_spark.operators.sampling import sample_trajectory

from noaa_ais_glue_lakehouse_spark.operators.sessionize import (
    latest_per_entity,
    sessionize,
)

from noaa_ais_glue_lakehouse_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucket_topk,
)

from noaa_ais_glue_lakehouse_spark.operators.state import merge_state_full_outer


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from noaa_ais_glue_lakehouse_spark.sources.readers import read_parquet_table

    # Pinned at call time (not only in the session factory) because the
    # external driver passes its OWN SparkSession: any timestamp the catalog
    # constructs (to_timestamp/date_format) is interpreted in the session
    # timezone at EXECUTION time, and the DuckDB oracle is timezone-naive
    # (effectively UTC). Left set deliberately — execution happens lazily
    # after this returns, so a save/restore here would un-pin it.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")



def cents(col) -> F.Column:
    """Exact integer-cents of a double column (order-independent sums).

    Safe ONLY on cent-quantized inputs (exactly 2 decimal places, as all
    TPC-H money columns here are — verified 0 violations at sf0.1): the
    nearest-double of d.cc times 100 lands within ~1e-11 of an integer,
    never on the .5 rounding boundary.  NEVER wrap a PRODUCT of two such
    doubles (the q388/X318 class — see the money-product helpers below);
    test_code_hygiene.py rejects cents()-around-a-product.

    Round 10: FLOOR(x*100 + 0.5) instead of ROUND(x*100) — numerically
    identical on every money column (measured 0 differing rows at
    sf0.1, min .5-boundary distance ~1e-9 away from mattering), but
    FLOOR is pure IEEE with no library rounding semantics at all, so
    even the boundary-free claim no longer depends on how an engine's
    ROUND resolves a binary .5 (round-9 verdict ask #1c).
    """
    return F.floor(col * 100 + F.lit(0.5)).cast("long")


# ---------------------------------------------------------------------------
# Exact-money products (the q388/X318 rounding class, closed in round 9).
#
# ROUND applied to a product of two cent-quantized doubles is NOT
# cross-engine deterministic: price*discount*100 can land EXACTLY on the
# .5 boundary (measured: ~313 lineitem rows at sf0.1 within 1e-9 of it),
# and which way a binary .5 rounds differs between rounding
# implementations (JVM BigDecimal HALF_UP on the shortest decimal repr
# vs a C library round on the binary value).  The discipline: recover an
# exact integer PER FACTOR first — FLOOR(price*100 + 0.5) and
# FLOOR(disc*100 + 0.5) are boundary-free on 2-dp data AND pure IEEE
# (round 10: FLOOR+bias replaced ROUND so no library rounding semantics
# remain anywhere in the money path) — then multiply integers and round
# half-up with pure integer arithmetic ((x + 50) DIV 100), which is
# identical by construction in Spark and DuckDB.  Assumes non-negative
# money factors (true for every TPC-H money column; DIV truncates toward
# zero, so the half-up identity needs x >= 0).  q473_rounding_canary
# pins these contracts with synthetic boundary values.
# ---------------------------------------------------------------------------


def disc_price_cents(
    price: str = "l_extendedprice", discount: str = "l_discount"
) -> F.Column:
    """price*(1-discount) in exact half-up integer cents (boundary-free)."""
    return F.expr(
        f"(CAST(FLOOR({price} * 100 + 0.5D) AS BIGINT)"
        f" * (100 - CAST(FLOOR({discount} * 100 + 0.5D) AS BIGINT)) + 50) DIV 100"
    )


def charge_cents(
    price: str = "l_extendedprice",
    discount: str = "l_discount",
    tax: str = "l_tax",
) -> F.Column:
    """price*(1-discount)*(1+tax) in exact half-up integer cents."""
    return F.expr(
        f"(CAST(FLOOR({price} * 100 + 0.5D) AS BIGINT)"
        f" * (100 - CAST(FLOOR({discount} * 100 + 0.5D) AS BIGINT))"
        f" * (100 + CAST(FLOOR({tax} * 100 + 0.5D) AS BIGINT)) + 5000) DIV 10000"
    )


def disc_rev_cents(
    price: str = "l_extendedprice", discount: str = "l_discount"
) -> F.Column:
    """price*discount in exact half-up integer cents (TPC-H Q6 revenue)."""
    return F.expr(
        f"(CAST(FLOOR({price} * 100 + 0.5D) AS BIGINT)"
        f" * CAST(FLOOR({discount} * 100 + 0.5D) AS BIGINT) + 50) DIV 100"
    )


def sql_disc_price_cents(p: str = "") -> str:
    """DuckDB mirror of disc_price_cents (// is integer division)."""
    return (
        f"((CAST(FLOOR({p}l_extendedprice * 100 + 0.5) AS BIGINT)"
        f" * (100 - CAST(FLOOR({p}l_discount * 100 + 0.5) AS BIGINT)) + 50) // 100)"
    )


def sql_charge_cents(p: str = "") -> str:
    """DuckDB mirror of charge_cents."""
    return (
        f"((CAST(FLOOR({p}l_extendedprice * 100 + 0.5) AS BIGINT)"
        f" * (100 - CAST(FLOOR({p}l_discount * 100 + 0.5) AS BIGINT))"
        f" * (100 + CAST(FLOOR({p}l_tax * 100 + 0.5) AS BIGINT)) + 5000) // 10000)"
    )


def sql_disc_rev_cents(p: str = "") -> str:
    """DuckDB mirror of disc_rev_cents."""
    return (
        f"((CAST(FLOOR({p}l_extendedprice * 100 + 0.5) AS BIGINT)"
        f" * CAST(FLOOR({p}l_discount * 100 + 0.5) AS BIGINT) + 50) // 100)"
    )


SESSION_GAP_SECONDS = 1800.0


# ---------------------------------------------------------------------------
# TPC-H-ish relational core (S2/S3 scans, A1-A4 aggregations, J1-J5 joins)
# ---------------------------------------------------------------------------



_SESSIONIZED_CTE = """
    WITH lagged AS (
      SELECT user_id, event_id, ts, value,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    sess AS (
      SELECT user_id, event_id, ts, value,
             SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_id
      FROM lagged
    )
"""



_COORDS_CTE = """
    WITH coords AS (
      SELECT user_id, event_id, ts,
             CAST(event_id % 1800 AS DOUBLE)/10.0 - 90.0 AS lat,
             CAST((event_id * 7) % 3600 AS DOUBLE)/10.0 - 180.0 AS lon
      FROM events
    )
"""



def _with_coords(ev: DataFrame, extra_cols: tuple[str, ...] = ()) -> DataFrame:
    lat = (F.col("event_id") % 1800).cast("double") / 10.0 - 90.0
    lon = ((F.col("event_id") * 7) % 3600).cast("double") / 10.0 - 180.0
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        lat.alias("lat"),
        lon.alias("lon"),
        *extra_cols,
    )



def _simhash_md5_oracle(max_hamming: int = 3, n_blocks: int = 4) -> str:
    """DuckDB oracle that rebuilds simhash64_portable BIT-IDENTICALLY
    (md5 nibble votes; bit-63 mask is the literal −2⁶³ — emitted FIRST so
    the + chain's partial sums stay inside int64) and enumerates the
    SAME pair set: with n_blocks > max_hamming the pigeonhole blocking
    has recall exactly 1.0, so block-join candidates + Hamming verify
    equals brute force, and the whole LSH pipeline is hash-checkable."""
    terms = []
    for b in range(63, -1, -1):
        nib, sh = b // 4 + 1, b % 4
        mask = (1 << b) if b < 63 else -(1 << 63)
        vote = (
            f"coalesce(list_sum(list_transform(hx, h -> CASE WHEN "
            f"((strpos('0123456789abcdef', h[{nib}]) - 1) >> {sh}) & 1 = 1 "
            f"THEN 1 ELSE -1 END)), 0)"
        )
        terms.append(
            f"(CASE WHEN {vote} > 0 THEN CAST({mask} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    sim_expr = "\n        + ".join(terms)
    bits = 64 // n_blocks
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS tk
      FROM documents
    ), hxs AS (
      SELECT doc_id, list_transform(tk, t -> md5(t)) AS hx FROM toks
    ), sims AS (
      SELECT doc_id, ({sim_expr}) AS sim FROM hxs
    ), off AS (SELECT UNNEST(range({n_blocks})) AS bi),
    blocks AS (
      SELECT doc_id, sim, bi,
             (sim >> CAST(bi * {bits} AS INT)) & {(1 << bits) - 1} AS bv
      FROM sims, off
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.sim AS sa, b.sim AS sb
      FROM blocks a JOIN blocks b
        ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """



def _langid_oracle() -> str:
    counts = []
    for lang, words in LANG_MARKERS.items():
        inlist = ",".join(f"'{w}'" for w in words)
        counts.append(
            f"len(list_filter(toks, x -> x IN ({inlist}))) AS c_{lang}"
        )
    count_sql = ",\n             ".join(counts)
    langs = list(LANG_MARKERS.keys())
    greatest = "GREATEST(" + ", ".join(f"c_{la}" for la in langs) + ")"
    case = "CASE WHEN " + greatest + " = 0 THEN 'und' "
    for la in langs:
        case += f"WHEN c_{la} = {greatest} THEN '{la}' "
    case += "END"
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang,
             {count_sql}
      FROM t
    )
    SELECT doc_id, lang, {case} AS guess,
           CAST(CASE WHEN ({case}) = lang THEN 1 ELSE 0 END AS BIGINT) AS correct
    FROM c
    """



_COSINE_ORACLE = """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings),
    s AS (
      SELECT qid AS query_id, cid AS neighbor_id,
             ROUND(
               list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
               / (SQRT(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))))
                  * SQRT(list_sum(list_transform(generate_series(1, 64),
                        i -> CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE))))), 6) AS score
      FROM q, c WHERE cid <> qid
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY score DESC, neighbor_id) AS rank
          FROM s)
    WHERE rank <= 5
"""



def _geohash_oracle_sql(precision: int = 6) -> str:
    """Generate the DuckDB SQL that reproduces geohash_expr exactly:
    quantize → interleave → base-32 slice, written out as integer math."""
    bpa = precision * 5 // 2
    scale = 1 << bpa
    parts = []
    for i in range(bpa):
        parts.append(f"(((lon_q >> {bpa - 1 - i}) & 1) << {2 * bpa - 1 - 2 * i})")
        parts.append(f"(((lat_q >> {bpa - 1 - i}) & 1) << {2 * bpa - 2 - 2 * i})")
    inter = " + ".join(parts)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = [
        f"substr('{b32}', CAST(((inter >> {5 * (precision - 1 - k)}) & 31) + 1 AS INT), 1)"
        for k in range(precision)
    ]
    return (
        _COORDS_CTE
        + f"""
    , q AS (
      SELECT event_id,
             LEAST(CAST(FLOOR((lon + 180.0)/360.0*{scale}.0) AS BIGINT), {scale - 1}) AS lon_q,
             LEAST(CAST(FLOOR((lat + 90.0)/180.0*{scale}.0) AS BIGINT), {scale - 1}) AS lat_q
      FROM coords
    ), inter_t AS (
      SELECT event_id, {inter} AS inter FROM q
    )
    SELECT event_id, {" || ".join(chars)} AS gh
    FROM inter_t
    """
    )



def _nav_status_values_sql() -> str:
    from noaa_ais_glue_lakehouse_spark.operators.dims import _NAV_STATUS_ROWS

    rows = ", ".join(f"({c}, '{n}')" for c, n, _ in _NAV_STATUS_ROWS)
    return f"dim(code, status_name) AS (VALUES {rows})"



def _register_views(spark: SparkSession, sf_dir: str, tables: list[str]) -> None:
    from noaa_ais_glue_lakehouse_spark.sources.writers import register_table_views

    register_table_views(spark, sf_dir, tables)



_WINNOW_PAIRS_SQL = """
      WITH grams AS (
        SELECT doc_id,
               list_transform(range(1, length(lower(text)) - 6),
                              i -> md5(substr(lower(text), i, 8))) AS hashes
        FROM documents WHERE length(text) >= 8
      ), wins AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(hashes) - 2),
                             j -> list_min(hashes[j : j + 3]))) AS fps
        FROM grams WHERE len(hashes) >= 4
      ), idx AS (
        SELECT doc_id, unnest(fps) AS fp FROM wins
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
"""

# q343's df-capped pair stream (max_df=64, the MOSS boilerplate rule) as a
# reusable oracle CTE body — the LINEAR-candidate production twin of
# _WINNOW_PAIRS_SQL, consumed by the capped graph queries (q446).

_WINNOW_PAIRS_CAPPED_SQL = """
      WITH grams AS (
        SELECT doc_id,
               list_transform(range(1, length(lower(text)) - 6),
                              i -> md5(substr(lower(text), i, 8))) AS hashes
        FROM documents WHERE length(text) >= 8
      ), wins AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(hashes) - 2),
                             j -> list_min(hashes[j : j + 3]))) AS fps
        FROM grams WHERE len(hashes) >= 4
      ), idx0 AS (
        SELECT doc_id, unnest(fps) AS fp FROM wins
      ), hot AS (
        SELECT fp FROM idx0 GROUP BY fp HAVING COUNT(*) > 64
      ), idx AS (
        SELECT i.doc_id, i.fp FROM idx0 i ANTI JOIN hot h ON i.fp = h.fp
      )
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
"""



def _cc_oracle(tail: str, pairs_sql: str = _WINNOW_PAIRS_SQL, rounds: int = 8) -> str:
    """Bounded-iteration connected-components oracle over a pair list —
    chained CTEs instead of an unbounded ``WITH RECURSIVE``, which on the
    sf0.1 duplicate graph (~4M pairs, quasi-clique components) explodes
    its intermediate (node, label) set and never finishes; the chained
    form completes in minutes at sf0.1 (the q235/q236 LPA/k-core
    pattern), closing the round-3 sf0.1 verification gap for the
    dup-graph family.

    Each round applies the monotone map
    ``label' = min(label, min neighbor label, label(label))``
    (min-label propagation + pointer jumping → O(log diameter) rounds).
    ``comp`` keeps only nodes whose label did NOT change in the final
    round, so an unconverged run DROPS rows and fails the gate's
    row-count check instead of silently passing with wrong components.
    A run where all rows survive is provably exact: labels are node ids
    within the component and monotone non-increasing, and at a per-node
    fixpoint ``label(u) <= label(w)`` along every edge, which forces
    ``label == component-min`` along any path to the min node.

    ``tail`` is the oracle's final SELECT (and any extra CTEs, comma-
    prefixed); it sees ``p(id_a, id_b)``, ``edges(src, dst)``, and
    ``comp(node, component)``.
    """
    ctes = [
        f"p AS MATERIALIZED ({pairs_sql})",
        "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p"
        " UNION ALL SELECT id_b, id_a FROM p)",
        "l0 AS MATERIALIZED (SELECT src AS node, LEAST(src, MIN(dst)) AS label"
        " FROM edges GROUP BY src)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""l{k} AS MATERIALIZED (
      SELECT cur.node,
             LEAST(cur.label, jmp.label, COALESCE(nb.minlbl, cur.label)) AS label
      FROM l{k - 1} cur
      JOIN l{k - 1} jmp ON jmp.node = cur.label
      LEFT JOIN (SELECT e.dst AS node, MIN(c2.label) AS minlbl
                 FROM edges e JOIN l{k - 1} c2 ON c2.node = e.src
                 GROUP BY e.dst) nb ON nb.node = cur.node
    )"""
        )
    ctes.append(
        f"""comp AS (
      SELECT a.node, CAST(a.label AS BIGINT) AS component
      FROM l{rounds} a JOIN l{rounds - 1} b ON a.node = b.node
      WHERE a.label = b.label
    )"""
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + tail



def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition to full parallelism — ONLY when the scan
    produced fewer partitions than cores (round 6). The gram-explode
    family does heavy row-local compute per input row (tokenize →
    n-grams → md5 per gram), and a corpus that fits one parquet split
    runs all of it in ONE task: q372 measured 12 s → 4.5 s at sf0.1
    from this spread alone. At 100 TB the scan already has ~10⁶ splits
    and the condition is false, so no shuffle is added where shuffling
    the raw text would actually cost something.

    Round 7: delegates to the library operator (promoted per round-6
    verdict) so user pipelines get the same fix."""
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        spread_partitions,
    )

    return spread_partitions(df)



def _lit_spine(spark: SparkSession, name: str, values: list) -> DataFrame:
    """A small literal one-column relation as a JVM-NATIVE plan (round
    10, guide §4): ``spark.createDataFrame([...])`` builds a Python RDD
    leaf, so every scan of the spine round-trips through Python workers
    (~0.3-0.5 s of fixed overhead per evaluation at any scale — and a
    crossJoin of TWO such leaves planned as a CartesianProduct over
    32×32 Python partition pairs, measured 13.5 s for 512 rows in q324).
    ``spark.range`` + ``element_at`` keeps the same rows and types
    (Python ints arrive as bigint, hence the long cast) with zero Python
    involvement and a single partition."""
    is_int = all(isinstance(v, int) and not isinstance(v, bool) for v in values)
    arr = F.array(
        *[F.lit(v).cast("long") if is_int else F.lit(v) for v in values]
    )
    return spark.range(0, len(values), 1, 1).select(
        F.element_at(arr, (F.col("id") + 1).cast("int")).alias(name)
    )


def _word_ngrams(toks: F.Column, n: int) -> F.Column:
    """Word n-grams of a token array as joined strings — pure column
    expressions (sequence + transform + slice), JVM-side, no explode until
    the caller asks for one."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))



_SPAN_N = 8  # tokens per repeated-span shingle (Lee et al. 2022 use 50;
# the synthetic docs average ~54 tokens, so 8 keeps spans sub-document)



_FUZZY_PAIRS_CTE = """
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    blocked AS (
      SELECT name, string_split(name, ' ')[-1] AS block FROM names
    ),
    fuzzy AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
      FROM blocked a JOIN blocked b
        ON a.block = b.block AND a.name < b.name
      WHERE levenshtein(a.name, b.name) <= 3
    )
"""



def _fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate fuzzy-match pairs over the DISTINCT part names:
    equi-join within last-token blocks, Levenshtein <= 3 verify.
    Returns (name_a, name_b, edit_dist) with name_a < name_b."""
    part = load(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    blocked = names.select(
        "name", F.element_at(F.split(F.col("name"), " "), -1).alias("block")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            F.levenshtein(F.col("a.name"), F.col("b.name"))
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 3)
    )



_BM25_TERMS = ("spark", "join", "window")

# Shared CTE: per-doc length + per-query-term term frequencies, then the
# corpus scalars (N, sum_dl, per-term df). Mirrored exactly by _bm25_base.

_BM25_SQL_BASE = """
    WITH base AS (
      SELECT doc_id,
             CAST(len(ts) AS BIGINT) AS dl,
             CAST(len(list_filter(ts, x -> x = 'spark')) AS BIGINT) AS tf_spark,
             CAST(len(list_filter(ts, x -> x = 'join')) AS BIGINT) AS tf_join,
             CAST(len(list_filter(ts, x -> x = 'window')) AS BIGINT) AS tf_window
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '') AS ts
        FROM documents
      )
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) AS sum_dl,
             CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
             CAST(SUM(CASE WHEN tf_join > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_join,
             CAST(SUM(CASE WHEN tf_window > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_window
      FROM base
    ),
    scored AS (
      SELECT doc_id, tf_spark, tf_join, tf_window,
             CAST(ROUND(ln((n_docs - df_spark + 0.5) / (df_spark + 0.5) + 1.0)
                  * CAST(tf_spark AS DOUBLE) * 2.2
                  / (CAST(tf_spark AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
                  * 1000000) AS BIGINT)
             + CAST(ROUND(ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
                  * CAST(tf_join AS DOUBLE) * 2.2
                  / (CAST(tf_join AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
                  * 1000000) AS BIGINT)
             + CAST(ROUND(ln((n_docs - df_window + 0.5) / (df_window + 0.5) + 1.0)
                  * CAST(tf_window AS DOUBLE) * 2.2
                  / (CAST(tf_window AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * dl / (sum_dl / n_docs)))
                  * 1000000) AS BIGINT) AS score_micro
      FROM base, stats
    )
"""



def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (k1=1.2, b=0.75) for the fixed query ``_BM25_TERMS``
    over ``documents`` — shared by q218 (retrieval) and q223 (NDCG eval).

    Everything is a per-row projection: tf via ``filter`` on the token
    array, dl via ``size`` — no explode, no per-term shuffle. The corpus
    scalars (N, Σdl, per-term df) are ONE scalar aggregate broadcast
    back with a 1-row cross join. Cross-engine determinism: each term's
    contribution is rounded to integer micros BEFORE the (order-free)
    integer sum, so float addition order can never flip a rank.
    """
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))

    # closure FACTORY, not a defaulted lambda: a 2-parameter lambda would be
    # interpreted by Spark's higher-order-function binder as (element, index)
    def _eq(term: str):
        return lambda t: t == F.lit(term)

    base = docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("dl"),
        *[
            F.size(F.filter(toks, _eq(term)))
            .cast("long")
            .alias(f"tf_{term}")
            for term in _BM25_TERMS
        ],
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("dl").cast("double").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long"))
            .cast("double")
            .alias(f"df_{t}")
            for t in _BM25_TERMS
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl") / F.col("n_docs")

    def contrib(t: str) -> F.Column:
        tf = F.col(f"tf_{t}").cast("double")
        df = F.col(f"df_{t}")
        idf = F.log(
            (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0)
        )
        c = (
            idf
            * tf
            * F.lit(2.2)
            / (
                tf
                + F.lit(1.2)
                * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / avgdl)
            )
        )
        return F.round(c * 1000000).cast("long")

    score = contrib("spark") + contrib("join") + contrib("window")
    return j.select(
        "doc_id",
        *[F.col(f"tf_{t}") for t in _BM25_TERMS],
        score.alias("score_micro"),
    )



_KNN_R = 6.0  # degrees; also the grid cell size, which makes 3x3 exact

_KNN_K = 3



def _lagged_pearson(
    left: DataFrame,
    right: DataFrame,
    lags: DataFrame,
    n_alias: str = "n_pairs",
    r_alias: str = "r",
) -> DataFrame:
    """Per-lag exact-integer Pearson correlation between two daily
    series: ``left(d, x)`` joined to ``right(d2, z)`` on the lag-shifted
    date for every lag in the (broadcast, literal) ``lags`` spine —
    shared by q221 (cross-correlation of two series) and q257 (ACF of
    one series). Moments are exact integers; the closed-form r is the
    one float expression, mirrored by both oracles.
    """
    j = left.crossJoin(F.broadcast(lags)).join(
        right, F.date_add(F.col("d"), F.col("lag")) == F.col("d2")
    )
    n = F.count(F.lit(1))
    sx, sz = F.sum("x"), F.sum("z")
    sxx = F.sum(F.col("x") * F.col("x"))
    szz = F.sum(F.col("z") * F.col("z"))
    sxz = F.sum(F.col("x") * F.col("z"))
    return j.groupBy("lag").agg(
        n.cast("long").alias(n_alias),
        F.round(
            (n * sxz - sx * sz).cast("double")
            / F.sqrt(
                (n * sxx - sx * sx).cast("double")
                * (n * szz - sz * sz).cast("double")
            ),
            6,
        ).alias(r_alias),
    )



def _bpe_round_sql(i: int) -> str:
    """One BPE round of the oracle: pair counts over the current symbol
    strings, deterministic argmax, 4-pass non-overlapping merge."""
    prev = f"r{i}"
    merged = "s"
    for _ in range(4):
        merged = (
            f"replace({merged}, ' '||m{i}.a||' '||m{i}.b||' ', "
            f"' '||m{i}.a||m{i}.b||' ')"
        )
    return f"""
    p{i} AS (
      SELECT t[j] AS a, t[j+1] AS b, SUM(c) AS cnt
      FROM (SELECT c, list_filter(string_split(trim(s), ' '),
                                  x -> x <> '') AS t FROM {prev}),
           UNNEST(generate_series(1, len(t) - 1)) AS u(j)
      WHERE len(t) >= 2
      GROUP BY 1, 2
    ),
    m{i} AS (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1),
    r{i + 1} AS (SELECT w, c, {merged} AS s FROM {prev}, m{i})
    """



_DUP_EDGES_CTE = """
    WITH fp AS (
      SELECT DISTINCT
             md5(array_to_string(list_filter(string_split_regex(
                  lower(trim(text)), '\\s+'), x -> x <> '')[1:8], ' ')) AS f,
             doc_id
      FROM documents
    ),
    edges AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM fp x JOIN fp y ON x.f = y.f AND x.doc_id < y.doc_id
    ),
    sym AS (
      SELECT a AS src, b AS dst FROM edges
      UNION ALL
      SELECT b AS src, a AS dst FROM edges
    )
"""



def _dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Undirected dup-graph edges (a < b): 8-token document-head
    fingerprint collisions — the same graph q214 counts triangles on."""
    docs = load(spark, sf_dir, "documents")
    head = F.md5(F.array_join(F.slice(tokenize(F.col("text")), 1, 8), " "))
    fp = docs.select(head.alias("f"), "doc_id").distinct()
    return (
        fp.alias("x")
        .join(
            fp.alias("y"),
            (F.col("x.f") == F.col("y.f"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )



def _sym_edges(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )



def _lpa_round_sql(i: int) -> str:
    """One deterministic label-propagation round: each node adopts its
    neighbors' most frequent label (count desc, label asc tiebreak),
    keeping its own label when isolated."""
    return f"""
    nl{i} AS (
      SELECT s.dst AS v, l.lab, COUNT(*) AS c
      FROM sym s JOIN lab{i} l ON l.v = s.src
      GROUP BY 1, 2
    ),
    pick{i} AS (
      SELECT v, lab FROM (
        SELECT v, lab,
               ROW_NUMBER() OVER (PARTITION BY v ORDER BY c DESC, lab) AS rn
        FROM nl{i}
      ) WHERE rn = 1
    ),
    lab{i + 1} AS (
      SELECT l.v, COALESCE(p.lab, l.lab) AS lab
      FROM lab{i} l LEFT JOIN pick{i} p USING (v)
    )
    """



def _kcore_round_sql(i: int, k: int = 2) -> str:
    return f"""
    deg{i} AS (SELECT src AS v, COUNT(*) AS d FROM sym{i} GROUP BY src),
    keep{i} AS (SELECT v FROM deg{i} WHERE d >= {k}),
    sym{i + 1} AS (
      SELECT s.src, s.dst FROM sym{i} s
      JOIN keep{i} ka ON ka.v = s.src
      JOIN keep{i} kb ON kb.v = s.dst
    )
    """



_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()



_DAILY_PAIRS_CTE = """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, COUNT(*) AS y FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT a.d AS d1, b.d AS d2, a.y AS y1, b.y AS y2,
             date_diff('day', a.d, b.d) AS dt
      FROM daily a JOIN daily b ON b.d > a.d
    )
"""



def _kappa_oracle() -> str:
    """Cohen's kappa between the declared ``lang`` label and the langid
    heuristic's guess — reuses q31's marker-count CASE so both raters
    are defined once. All statistics are integer counts; the only float
    ops are the three mirrored final divisions."""
    counts = []
    for lang, words in LANG_MARKERS.items():
        inlist = ",".join(f"'{w}'" for w in words)
        counts.append(f"len(list_filter(toks, x -> x IN ({inlist}))) AS c_{lang}")
    count_sql = ",\n             ".join(counts)
    langs = list(LANG_MARKERS.keys())
    greatest = "GREATEST(" + ", ".join(f"c_{la}" for la in langs) + ")"
    case = "CASE WHEN " + greatest + " = 0 THEN 'und' "
    for la in langs:
        case += f"WHEN c_{la} = {greatest} THEN '{la}' "
    case += "END"
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT lang AS label_a, {case} AS label_b
      FROM (SELECT doc_id, lang, {count_sql} FROM t)
    ),
    tot AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN label_a = label_b THEN 1 ELSE 0 END) AS agree
      FROM g
    ),
    ma AS (SELECT label_a AS l, COUNT(*) AS ca FROM g GROUP BY 1),
    mb AS (SELECT label_b AS l, COUNT(*) AS cb FROM g GROUP BY 1),
    ex AS (SELECT SUM(ca * cb) AS sum_ab FROM ma JOIN mb USING (l))
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(CAST(agree AS DOUBLE) / n, 6) AS po,
           ROUND(CAST(sum_ab AS DOUBLE) / (n * n), 6) AS pe,
           ROUND((CAST(agree AS DOUBLE) / n - CAST(sum_ab AS DOUBLE) / (n * n))
                 / (1 - CAST(sum_ab AS DOUBLE) / (n * n)), 6) AS kappa
    FROM tot, ex
    """



_EXACT_DIV_SQL = (
    "CASE WHEN {a} >= 0 THEN CAST(({a} - {a} % {s}) / {s} AS BIGINT) "
    "ELSE -CAST(((-{a}) - (-{a}) % {s}) / {s} AS BIGINT) END"
)



def _power_round_sql(r: int) -> str:
    """One deterministic power-iteration round as a chained CTE pair:
    w = A'·v (integer matmul), then v rescaled to |v| ≤ 1000 by an
    exact integer division with the round's own max-|w| scalar."""
    div = _EXACT_DIV_SQL.format(a="w", s="sv")
    return f"""
    w{r} AS (
      SELECT a.i AS i, SUM(a.a2 * v.v) AS w
      FROM a2 a JOIN v{r - 1} v ON v.i = a.j
      GROUP BY a.i
    ), sw{r} AS (
      SELECT CAST(MAX(ABS(w)) AS BIGINT) // 1000 + 1 AS sv FROM w{r}
    ), v{r} AS (
      SELECT i, {div} AS v FROM w{r}, sw{r}
    )"""



def _morton_sql(xe: str, ye: str, bits: int) -> str:
    """DuckDB rendering of functions/spatial.py morton_key (x even bits)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({xe}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({ye}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)



def _bloom_oracle(m: int, k: int) -> str:
    from noaa_ais_glue_lakehouse_spark.operators.sketches import hash_pos_sql

    return f"""
    WITH keys AS (SELECT DISTINCT o_custkey AS x FROM orders),
    hs AS (SELECT UNNEST(range({k})) AS i),
    bits AS (
      SELECT DISTINCT {hash_pos_sql("x", "i", m)} AS bitpos FROM keys, hs
    ),
    probe AS (
      SELECT c_custkey, i, {hash_pos_sql("c_custkey", "i", m)} AS bitpos
      FROM customer, hs
    ),
    pass AS (
      SELECT c_custkey FROM probe JOIN bits USING (bitpos)
      GROUP BY c_custkey HAVING COUNT(DISTINCT i) = {k}
    ),
    truth AS (SELECT DISTINCT o_custkey FROM orders)
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN p.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bloom_pass,
           CAST(SUM(CASE WHEN t.o_custkey IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_orders,
           CAST(SUM(CASE WHEN p.c_custkey IS NOT NULL AND t.o_custkey IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM customer c
    LEFT JOIN pass p ON p.c_custkey = c.c_custkey
    LEFT JOIN truth t ON t.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """



def _cms_oracle(depth: int, width: int) -> str:
    from noaa_ais_glue_lakehouse_spark.operators.sketches import hash_pos_sql

    return f"""
    WITH hs AS (SELECT UNNEST(range({depth})) AS i),
    cells AS (
      SELECT i, {hash_pos_sql("user_id", "i", width)} AS pos,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events, hs GROUP BY 1, 2
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY 1
    ),
    keyed AS (
      SELECT u.user_id, hs.i,
             {hash_pos_sql("u.user_id", "hs.i", width)} AS pos
      FROM exact u, hs
    ),
    est AS (
      SELECT user_id, CAST(MIN(COALESCE(n, 0)) AS BIGINT) AS est_count
      FROM keyed LEFT JOIN cells USING (i, pos) GROUP BY user_id
    )
    SELECT e.user_id, e.est_count, x.exact_count,
           e.est_count - x.exact_count AS overestimate
    FROM est e JOIN exact x USING (user_id)
    ORDER BY e.est_count DESC, e.user_id LIMIT 10
    """



_BLOCKLIST = {
    "latency": ["slow", "big"],
    "vendor": ["spark", "hash"],
    "pii": ["customer", "key"],
}



def _kmeans_oracle(rounds: int, k: int) -> str:
    """Chained-CTE Lloyd iterations (the q277 engine-exact idiom):
    assignment a{r} vs centroids c{r-1}; update c{r} from a{r}."""
    parts = [
        """
    WITH dims AS (
      SELECT vec_id, u.i AS i,
             CAST(ROUND(CAST(embedding[u.i] AS DOUBLE) * 1000000) AS BIGINT)
               AS x
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    c0 AS (SELECT vec_id AS c, i, x AS ci FROM dims WHERE vec_id < """
        + str(k)
        + ")"
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    a{r} AS (
      SELECT vec_id, c, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rk
      FROM (
        SELECT d.vec_id, c.c, SUM((d.x - c.ci) * (d.x - c.ci)) AS d2
        FROM dims d JOIN c{r - 1} c ON c.i = d.i
        GROUP BY d.vec_id, c.c
      )
    )"""
        )
        if r < rounds:
            parts.append(
                f""",
    c{r} AS (
      SELECT a.c, d.i,
             CAST(ROUND(CAST(SUM(d.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS ci
      FROM a{r} a JOIN dims d ON d.vec_id = a.vec_id
      WHERE a.rk = 1
      GROUP BY a.c, d.i
    )"""
            )
    parts.append(
        f"""
    SELECT c AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(d2) AS BIGINT) AS inertia
    FROM a{rounds} WHERE rk = 1 GROUP BY c
    """
    )
    return "".join(parts)



_REPEATED_SPAN_ORACLE = r"""
    WITH base AS (
      SELECT doc_id, lower(text) AS s FROM documents
      WHERE len(lower(text)) >= 20
    ), grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(s, CAST(i AS INT), 20) AS gram
      FROM base, UNNEST(range(1, len(s) - 18)) AS t(i)
    ), hot AS (
      SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
    ), rep AS (
      SELECT g.doc_id, g.pos FROM grams g JOIN hot USING (gram)
    ), lagged AS (
      SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM rep
    ), isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos > prev + 20 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM lagged
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + 20 AS BIGINT) AS span_end,
           CAST(MAX(pos) + 20 - MIN(pos) AS BIGINT) AS span_len
    FROM isl GROUP BY doc_id, island
"""



_HAV_HM_SQL = """CAST(ROUND(2*6371*ASIN(LEAST(SQRT(
  POW(SIN(RADIANS({la2}-{la1})/2),2)
  + COS(RADIANS({la1}))*COS(RADIANS({la2}))*POW(SIN(RADIANS({lo2}-{lo1})/2),2)
), 1.0)) * 10) AS BIGINT)"""



_DENSE_CELLS_SQL = """
      SELECT (lon_dd + 1800) // 50 AS cx, (lat_dd + 900) // 50 AS cy,
             ((lon_dd + 1800) // 50) * 100 + ((lat_dd + 900) // 50) AS cell_id,
             COUNT(*) AS n_pts
      FROM (SELECT event_id % 1800 - 900 AS lat_dd,
                   (event_id * 7) % 3600 - 1800 AS lon_dd
            FROM events)
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= 5
"""


_DENSE_PAIRS_SQL = f"""
    SELECT a.cell_id AS id_a, b.cell_id AS id_b
    FROM ({_DENSE_CELLS_SQL}) a
    CROSS JOIN (VALUES (-1, -1), (-1, 0), (-1, 1), (0, -1),
                       (0, 1), (1, -1), (1, 0), (1, 1)) o(dx, dy)
    JOIN ({_DENSE_CELLS_SQL}) b
      ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
     AND a.cell_id < b.cell_id
"""



def _bt_iteration_sql(k: int) -> str:
    """One Bradley–Terry MM round as a CTE (integer micro-units).

    The pair-term denominator is GREATEST(p_i+p_j, 1): with zero-win
    types seeded into the strength vector (round 6), a type's strength
    can reach exactly 0 after an update, and 0+0 would otherwise be an
    integer division by zero (DuckDB raises; Spark nulls)."""
    return f"""it{k} AS (
      SELECT w.t, (w.wins * 1000000000000) //
             GREATEST(SUM((pp.n * 1000000000000)
                          // GREATEST(pi.p_u + pj.p_u, 1)), 1) AS p_u
      FROM wins w
      JOIN pair_stats pp ON pp.ti = w.t OR pp.tj = w.t
      JOIN it{k - 1} pi ON pi.t = w.t
      JOIN it{k - 1} pj
        ON pj.t = CASE WHEN pp.ti = w.t THEN pp.tj ELSE pp.ti END
      GROUP BY w.t, w.wins
    )"""



def _minhash_portable_oracle(
    threshold: float = 0.8, num_hashes: int = 32, bands: int = 8
) -> str:
    """DuckDB oracle that rebuilds the ENTIRE portable-minhash pipeline
    bit-identically: 60-bit md5-prefix shingle hashes, the
    (a_i·x+b_i) mod 2³¹−1 slot family, per-band signature-tuple
    equality for candidates (OR of bands — each unordered pair emitted
    once), and the exact hashed-set Jaccard verify with the same
    rounded-threshold compare. Any divergence in any stage of the LSH
    pipeline hash-mismatches at the gate."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_portable_slot_consts,
    )

    p = 2147483647
    r = num_hashes // bands
    consts = minhash_portable_slot_consts(num_hashes)
    sig_cols = ",\n             ".join(
        f"MIN((hp * {a} + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_eq = " OR\n        ".join(
        "("
        + " AND ".join(f"a.h{bi * r + j} = b.h{bi * r + j}" for j in range(r))
        + ")"
        for bi in range(bands)
    )
    t10 = int(threshold * 10)
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h60
      FROM (SELECT doc_id, UNNEST(tk) AS tok FROM toks)
    ), hp AS (
      SELECT doc_id, h60, h60 % {p} AS hp FROM sh
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hp GROUP BY doc_id
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
        {band_eq})
    ), sized AS (
      SELECT c.id_a, c.id_b, sa.n AS na, sb.n AS nb
      FROM cand c
      JOIN sz sa ON sa.doc_id = c.id_a
      JOIN sz sb ON sb.doc_id = c.id_b
      WHERE LEAST(sa.n, sb.n) * 10 >= GREATEST(sa.n, sb.n) * {t10}
    ), inter AS (
      SELECT s.id_a, s.id_b, s.na, s.nb, COUNT(*) AS i
      FROM sized s
      JOIN sh a ON a.doc_id = s.id_a
      JOIN sh b ON b.doc_id = s.id_b AND b.h60 = a.h60
      GROUP BY s.id_a, s.id_b, s.na, s.nb
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
    FROM inter
    WHERE ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) >= {threshold}
    """



def _cosine_lsh_portable_oracle(
    threshold: float = 0.85, n_planes: int = 6, n_tables: int = 8, dim: int = 64
) -> str:
    """DuckDB oracle rebuilding the portable hyperplane-LSH pipeline
    bit-identically: the SAME ±1 sign literals (generated by the same
    Python function the engine embeds), the same left-to-right float
    dot (q46 precedent: list_sum matches the engine's zip_with left
    fold), the same ≥0→1 tie rule and bit packing, OR-of-tables
    candidates (each unordered pair once), and the q46 4-dp-rounded
    exact-cosine verify."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        portable_hyperplane_signs,
    )

    signs = portable_hyperplane_signs(n_tables, n_planes, dim)
    bucket_exprs = []
    for t in range(n_tables):
        bits = []
        for j in range(n_planes):
            arr = "[" + ", ".join(
                f"{float(s):.1f}" for s in signs[t][j]
            ) + "]"
            dot = (
                f"list_sum(list_transform(list_zip(embedding, {arr}),"
                f" p -> CAST(p[1] AS DOUBLE) * p[2]))"
            )
            bits.append(
                f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)"
            )
        bucket_exprs.append("(" + " + ".join(bits) + f") AS bk{t}")
    band_eq = " OR ".join(f"a.bk{t} = b.bk{t}" for t in range(n_tables))
    cos = (
        "ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / (SQRT(list_sum(list_transform(a.embedding,"
        " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
        " * SQRT(list_sum(list_transform(b.embedding,"
        " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 4)"
    )
    buckets = ",\n             ".join(bucket_exprs)
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {buckets}
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cosine
    FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({band_eq})
    WHERE {cos} >= {threshold}
    """



def _dtw6_alias_chain() -> list[tuple[str, str]]:
    """The 6×6 DTW dynamic program UNROLLED as 36 (alias, expression)
    pairs over integer segment columns a1..a6 / b1..b6 — emitted as the
    SAME text for Spark and DuckDB (both support lateral column-alias
    references, so the chain is one projection on either engine). Cost
    is |a_i − b_j| (exact int64); D_ij = cost + min of the three
    predecessors — the full recurrence with no band, no recursion, no
    UDF. This is the hash-checkable anchor for the DTW family (q352's
    banded applyInPandas form is rows-only by design)."""
    out = []
    for i in range(1, 7):
        for j in range(1, 7):
            c = f"ABS(a{i} - b{j})"
            if i == 1 and j == 1:
                e = c
            elif i == 1:
                e = f"{c} + d1{j - 1}"
            elif j == 1:
                e = f"{c} + d{i - 1}1"
            else:
                e = (
                    f"{c} + LEAST(d{i - 1}{j}, d{i}{j - 1},"
                    f" d{i - 1}{j - 1})"
                )
            out.append((f"d{i}{j}", e))
    return out



_PQ_M, _PQ_K, _PQ_D = 8, 8, 8  # subspaces × centroids/subspace × dims/subspace



def _pq_codebook() -> list:
    """Deterministic public PQ codebook, c[s][k][d] ∈ [-1.00, 1.00] with
    two decimals from md5 of the coordinate — the q384 portable-planes
    move applied to product quantization: both engines parse the SAME
    decimal literals, so assignments and reconstruction errors are
    bit-identical."""
    import hashlib

    return [
        [
            [
                round(
                    (hashlib.md5(f"pq:{s}:{k}:{d}".encode()).digest()[0] % 201 - 100)
                    / 100.0,
                    2,
                )
                for d in range(_PQ_D)
            ]
            for k in range(_PQ_K)
        ]
        for s in range(_PQ_M)
    ]



def _pq_exprs(vec_sql: str) -> tuple[list, list, list]:
    """(dist_aliases, code_exprs, mindist_exprs) — textual SQL fragments
    shared VERBATIM by the Spark plan (F.expr) and the DuckDB oracle.
    ``vec_sql(i)`` must be the 1-based element access for each engine's
    array syntax; argmin ties break to the lowest centroid index via the
    strict < comparison chain (first minimum wins)."""
    cb = _pq_codebook()
    dist_aliases = []
    code_exprs = []
    mindist_exprs = []
    for s in range(_PQ_M):
        names = []
        for k in range(_PQ_K):
            terms = " + ".join(
                f"({vec_sql.format(i=s * _PQ_D + d + 1)} - ({cb[s][k][d]}))"
                f" * ({vec_sql.format(i=s * _PQ_D + d + 1)} - ({cb[s][k][d]}))"
                for d in range(_PQ_D)
            )
            names.append(f"_pqd{s}_{k}")
            dist_aliases.append((f"_pqd{s}_{k}", terms))
        def _rest_min(rest: list) -> str:
            return rest[0] if len(rest) == 1 else f"LEAST({', '.join(rest)})"

        cases = " ".join(
            f"WHEN {names[k]} <= {_rest_min(names[k+1:])} THEN {k}"
            for k in range(_PQ_K - 1)
        )
        code_exprs.append(f"CASE {cases} ELSE {_PQ_K - 1} END")
        mindist_exprs.append(f"LEAST({', '.join(names)})")
    return dist_aliases, code_exprs, mindist_exprs



def _pq_oracle() -> str:
    dists, codes, mins = _pq_exprs("CAST(embedding[{i}] AS DOUBLE)")
    dist_sql = ",\n             ".join(f"{t} AS {n}" for n, t in dists)
    code_sql = " || ".join(f"CAST(({c}) AS VARCHAR)" for c in codes)
    err_sql = " + ".join(mins)
    return f"""
    WITH d AS (
      SELECT vec_id,
             {dist_sql}
      FROM embeddings
    )
    SELECT vec_id,
           {code_sql} AS pq_code,
           CAST(FLOOR(({err_sql}) * 1000000) AS BIGINT) AS recon_err_e6
    FROM d
    """



def _bfs_oracle(rounds: int = 4, pairs_sql: str = _WINNOW_PAIRS_SQL) -> str:
    """Bounded-hop BFS oracle over the winnowing dup graph — chained
    CTEs (the _cc_oracle move), one relaxation per hop: dist' =
    min(dist, 1 + min over in-neighbors' dist). Exact for nodes within
    ``rounds`` hops of a seed; farther nodes are absent BY CONTRACT on
    both engines, so the row-count gate catches a short engine loop.
    ``pairs_sql`` picks the edge stream: q61's exact contract (default)
    or q343's df-capped production twin."""
    ctes = [
        f"p AS MATERIALIZED ({pairs_sql})",
        "edges AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p"
        " UNION ALL SELECT id_b, id_a FROM p)",
        "d0 AS (SELECT DISTINCT src AS node, 0 AS hop FROM edges"
        " WHERE src % 50 = 0)",
    ]
    for k in range(1, rounds + 1):
        ctes.append(
            f"""d{k} AS (
      SELECT node, MIN(hop) AS hop FROM (
        SELECT node, hop FROM d{k - 1}
        UNION ALL
        SELECT e.dst AS node, d.hop + 1 AS hop
        FROM d{k - 1} d JOIN edges e ON e.src = d.node
      ) GROUP BY node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node AS doc_id, CAST(hop AS BIGINT) AS hop
    FROM d{rounds}"""
    )



def _minhash_contamination_oracle(
    threshold: float = 0.5, num_hashes: int = 32, bands: int = 8,
    bench_mod: int = 37,
) -> str:
    """Asymmetric mirror of _minhash_portable_oracle: identical shingle
    hashes, slot family and per-band equality, but candidates come from
    the corpus×benchmark join (bench = doc_id % bench_mod = 0) and the
    output aggregates per contaminated corpus doc."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_portable_slot_consts,
    )

    p = 2147483647
    r = num_hashes // bands
    consts = minhash_portable_slot_consts(num_hashes)
    sig_cols = ",\n             ".join(
        f"MIN((hp * {a} + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_eq = " OR\n        ".join(
        "("
        + " AND ".join(f"a.h{bi * r + j} = b.h{bi * r + j}" for j in range(r))
        + ")"
        for bi in range(bands)
    )
    t10 = int(threshold * 10)
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h60
      FROM (SELECT doc_id, UNNEST(tk) AS tok FROM toks)
    ), hp AS (
      SELECT doc_id, h60, h60 % {p} AS hp FROM sh
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hp GROUP BY doc_id
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.doc_id % {bench_mod} <> 0 AND b.doc_id % {bench_mod} = 0 AND (
        {band_eq})
    ), sized AS (
      SELECT c.id_a, c.id_b, sa.n AS na, sb.n AS nb
      FROM cand c
      JOIN sz sa ON sa.doc_id = c.id_a
      JOIN sz sb ON sb.doc_id = c.id_b
      WHERE LEAST(sa.n, sb.n) * 10 >= GREATEST(sa.n, sb.n) * {t10}
    ), inter AS (
      SELECT s.id_a, s.id_b, s.na, s.nb, COUNT(*) AS i
      FROM sized s
      JOIN sh a ON a.doc_id = s.id_a
      JOIN sh b ON b.doc_id = s.id_b AND b.h60 = a.h60
      GROUP BY s.id_a, s.id_b, s.na, s.nb
    ), verified AS (
      SELECT id_a, id_b,
             ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) AS j
      FROM inter
      WHERE ROUND(CAST(i AS DOUBLE) / (na + nb - i), 6) >= {threshold}
    )
    SELECT id_a AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bench_matches,
           MAX(j) AS max_jaccard
    FROM verified GROUP BY id_a
    """



def _ivf_adc_bucket_expr(elem: str, n_planes: int = 6, dim: int = 64) -> str:
    """Coarse-quantizer bucket as IDENTICAL text for both engines: bit j
    = (explicit left-to-right ±1 dot of plane j with the vector) >= 0,
    packed into an integer. Planes are q384's portable Rademacher
    family (table 0)."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        portable_hyperplane_signs,
    )

    signs = portable_hyperplane_signs(1, n_planes, dim)[0]
    bits = []
    for j in range(n_planes):
        dot = " + ".join(
            f"{elem.format(i=d + 1)} * ({float(signs[j][d])})"
            for d in range(dim)
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)



def _ivf_adc_dist_expr(elem: str) -> str:
    """Subspace squared distance (vector slice vs codebook row columns
    c1..c8) as identical text; `s` and `c1..c8` are relation columns."""
    return " + ".join(
        f"({elem.format(i=f'(s * 8 + {d + 1})')} - c{d + 1})"
        f" * ({elem.format(i=f'(s * 8 + {d + 1})')} - c{d + 1})"
        for d in range(8)
    )



def _ivf_adc_codebook_values() -> str:
    """The q394 PQ codebook as a VALUES relation (s, k, c1..c8)."""
    cb = _pq_codebook()
    rows = ", ".join(
        f"({s}, {k}, {', '.join(str(v) for v in cb[s][k])})"
        for s in range(_PQ_M)
        for k in range(_PQ_K)
    )
    return rows



def _ivf_adc_oracle(query_mod: int = 17, topk: int = 10) -> str:
    bucket = _ivf_adc_bucket_expr("CAST(embedding[{i}] AS DOUBLE)")
    dist = _ivf_adc_dist_expr("CAST(e.embedding[{i}] AS DOUBLE)")
    return f"""
    WITH cb (s, k, c1, c2, c3, c4, c5, c6, c7, c8) AS (
      VALUES {_ivf_adc_codebook_values()}
    ), v AS (
      SELECT vec_id, embedding, {bucket} AS bkt FROM embeddings
    ), pd AS (
      SELECT e.vec_id, cb.s, cb.k, {dist} AS d2
      FROM v e CROSS JOIN cb
    ), codes AS (
      SELECT vec_id, s, k FROM (
        SELECT vec_id, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, k) AS rn
        FROM pd
      ) WHERE rn = 1
    ), lut AS (
      SELECT vec_id AS q_id, s, k,
             CAST(FLOOR(d2 * 1000000) AS BIGINT) AS d2_e6
      FROM pd WHERE vec_id % {query_mod} = 0
    ), cand AS (
      SELECT q.vec_id AS q_id, x.vec_id AS x_id
      FROM v q JOIN v x ON x.bkt = q.bkt AND x.vec_id <> q.vec_id
      WHERE q.vec_id % {query_mod} = 0
    ), adc AS (
      SELECT c.q_id, c.x_id, SUM(l.d2_e6) AS adc_e6
      FROM cand c
      JOIN codes cd ON cd.vec_id = c.x_id
      JOIN lut l ON l.q_id = c.q_id AND l.s = cd.s AND l.k = cd.k
      GROUP BY c.q_id, c.x_id
    )
    SELECT q_id, x_id, CAST(adc_e6 AS BIGINT) AS adc_e6,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT q_id, x_id, adc_e6,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY adc_e6, x_id) AS rnk
      FROM adc
    ) WHERE rnk <= {topk}
    """



def _pq_code_oracle_cte() -> str:
    """Shared oracle CTE: per-vector per-subspace PQ code assignment
    (q394's construction, reused by the audit queries)."""
    dists, codes, _ = _pq_exprs("CAST(embedding[{i}] AS DOUBLE)")
    dist_sql = ",\n             ".join(f"{t} AS {n}" for n, t in dists)
    code_rows = " UNION ALL ".join(
        f"SELECT vec_id, {s} AS s, ({codes[s]}) AS k FROM d"
        for s in range(_PQ_M)
    )
    return f"""
    WITH d AS (
      SELECT vec_id,
             {dist_sql}
      FROM embeddings
    ), assign AS (
      {code_rows}
    )"""



_POIS1_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
    "0.9999167588507119", "0.9999897508637437",
)



def _pois_weight_expr(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {f} THEN {k}" for k, f in enumerate(_POIS1_CDF)
    )
    return f"CASE {cases} ELSE 8 END"



def _chunk_langid_case() -> tuple[str, str]:
    """(count_sql_fragment, guess_case) over per-chunk conditional sums
    c_<lang> — identical text for both engines (the _langid_oracle
    marker table applied at chunk grain)."""
    langs = list(LANG_MARKERS.keys())
    counts = ",\n             ".join(
        "SUM(CASE WHEN tok IN ("
        + ",".join(f"'{w}'" for w in LANG_MARKERS[la])
        + f") THEN 1 ELSE 0 END) AS c_{la}"
        for la in langs
    )
    greatest = "GREATEST(" + ", ".join(f"c_{la}" for la in langs) + ")"
    case = f"CASE WHEN {greatest} = 0 THEN 'und' "
    for la in langs:
        case += f"WHEN c_{la} = {greatest} THEN '{la}' "
    case += "END"
    return counts, case



def _mixed_lang_oracle(chunk_tokens: int = 20) -> str:
    counts, case = _chunk_langid_case()
    return rf"""
    WITH toks AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> x <> '') AS tk
      FROM documents
    ), e AS (
      SELECT doc_id, t.tok, t.pos
      FROM toks, LATERAL (
        SELECT UNNEST(tk) AS tok, UNNEST(range(0, len(tk))) AS pos
      ) t
    ), cc AS (
      SELECT doc_id, pos // {chunk_tokens} AS chunk,
             {counts}
      FROM e GROUP BY doc_id, pos // {chunk_tokens}
    ), g AS (
      SELECT doc_id, chunk, {case} AS guess FROM cc
    ), known AS (
      SELECT doc_id, guess, COUNT(*) AS n FROM g
      WHERE guess <> 'und' GROUP BY doc_id, guess
    ), roll AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_langs,
             MIN(ROW(-n, guess)) AS m
      FROM known GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST((len(t.tk) + {chunk_tokens - 1}) // {chunk_tokens} AS BIGINT)
             AS n_chunks,
           COALESCE(r.n_langs, 0) AS n_langs,
           COALESCE((r.m)[2], 'und') AS majority_lang,
           CAST(CASE WHEN COALESCE(r.n_langs, 0) >= 2 THEN 1 ELSE 0 END
                AS BIGINT) AS mixed
    FROM toks t LEFT JOIN roll r ON r.doc_id = t.doc_id
    WHERE len(t.tk) > 0
    """



_P_TWO_SIDED_EXPR = (
    "2.0 * (EXP(-az * az / 2.0) / SQRT(2.0 * PI())) * ("
    "0.319381530 * tt - 0.356563782 * tt * tt"
    " + 1.781477937 * tt * tt * tt"
    " - 1.821255978 * tt * tt * tt * tt"
    " + 1.330274429 * tt * tt * tt * tt * tt)"
)


_Z_DAY_VS_TYPE_EXPR = (
    "(CAST(s_d AS DOUBLE) / n_d - CAST(s_t AS DOUBLE) / n_t)"
    " / SQRT(GREATEST(CAST(s2_t AS DOUBLE) / n_t"
    " - (CAST(s_t AS DOUBLE) / n_t) * (CAST(s_t AS DOUBLE) / n_t),"
    " 1e-9) / n_d)"
)



_TILE_Y6_EXPR = (
    "CAST(FLOOR((1.0 - LN(TAN(RADIANS(LEAST(GREATEST(lat, -85.05112878),"
    " 85.05112878))) + 1.0 / COS(RADIANS(LEAST(GREATEST(lat,"
    " -85.05112878), 85.05112878)))) / PI()) / 2.0 * 64.0) AS BIGINT)"
)

_TILE_X6_EXPR = "CAST(FLOOR((lon + 180.0) / 360.0 * 64.0) AS BIGINT)"



_MORTON20_SQL = " + ".join(
    f"(((xi >> {b}) & 1) * {1 << (2 * b + 1)})"
    f" + (((yi >> {b}) & 1) * {1 << (2 * b)})"
    for b in range(10)
)



def _hilbert_lut_values_sql() -> str:
    from noaa_ais_glue_lakehouse_spark.functions.spatial import (
        HILBERT_LUT_2BIT,
    )

    rows = ", ".join(
        f"({s}, {bx}, {by}, {dd}, {ns})" for s, bx, by, dd, ns in HILBERT_LUT_2BIT
    )
    return (
        "SELECT * FROM (VALUES "
        + rows
        + ") AS lut(st, bx, by, dd, ns)"
    )



def _hilbert_oracle() -> str:
    join_chain = []
    prev = "b0"
    for blk in range(5):
        sh = 8 - 2 * blk
        join_chain.append(
            f""", b{blk + 1} AS (
      SELECT p.xi, p.yi, p.d * 16 + l.dd AS d, l.ns AS st
      FROM b{blk} p JOIN lut l
        ON l.st = p.st
       AND l.bx = (p.xi >> {sh}) & 3
       AND l.by = (p.yi >> {sh}) & 3
    )"""
        )
        prev = f"b{blk + 1}"
    return (
        f"""
    WITH lut AS ({_hilbert_lut_values_sql()}),
    pts AS (
      SELECT LEAST(CAST(FLOOR((CAST((event_id * 7) % 3600 AS DOUBLE)/10.0)
                         / 360.0 * 1024.0) AS BIGINT), 1023) AS xi,
             LEAST(CAST(FLOOR((CAST(event_id % 1800 AS DOUBLE)/10.0)
                         / 180.0 * 1024.0) AS BIGINT), 1023) AS yi
      FROM events
    ), b0 AS (
      SELECT xi, yi, CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS st
      FROM pts
    )"""
        + "".join(join_chain)
        + f"""
    , keyed AS (
      SELECT d // 16384 AS hb,
             ({_MORTON20_SQL}) // 16384 AS mb,
             xi, yi
      FROM {prev}
    ), h AS (
      SELECT hb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_hilbert,
             CAST((MAX(xi) - MIN(xi) + 1) * (MAX(yi) - MIN(yi) + 1)
                  AS BIGINT) AS hilbert_bbox_area
      FROM keyed GROUP BY hb
    ), m AS (
      SELECT mb AS bucket, CAST(COUNT(*) AS BIGINT) AS n_morton,
             CAST((MAX(xi) - MIN(xi) + 1) * (MAX(yi) - MIN(yi) + 1)
                  AS BIGINT) AS morton_bbox_area
      FROM keyed GROUP BY mb
    )
    SELECT COALESCE(h.bucket, m.bucket) AS bucket,
           h.n_hilbert, h.hilbert_bbox_area,
           m.n_morton, m.morton_bbox_area
    FROM h FULL OUTER JOIN m ON m.bucket = h.bucket
    """
    )



def _journey_transitions(spark: SparkSession, sf_dir: str):
    """Shared journey machinery for the Markov attribution family
    (q423 removal effects, q430 Shapley): user-day paths truncated at
    the first purchase, with START and absorbing CONV/NULL rows.
    Returns (n, ni, path): transition counts, per-source totals, and
    the path-event stream for touch counts."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type"
    )
    wud = Window.partitionBy("user_id", "day")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "day",
            "ts",
            "event_id",
            F.row_number().over(wud.orderBy("ts", "event_id")).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "user_id", "day", F.col("ts").alias("fp_ts"), F.col("event_id").alias("fp_id")
        )
    )
    # fp is (user, day)-grain first-purchase rows — it grows with event volume,
    # so no broadcast hint: let AQE pick broadcast vs shuffle by observed size.
    path = (
        ev.filter(F.col("event_type") != "purchase")
        .join(fp, ["user_id", "day"], "left")
        .filter(
            F.col("fp_id").isNull()
            | (F.col("ts") < F.col("fp_ts"))
            | ((F.col("ts") == F.col("fp_ts")) & (F.col("event_id") < F.col("fp_id")))
        )
        .select(
            "user_id",
            "day",
            "ts",
            "event_id",
            "event_type",
            F.when(F.col("fp_id").isNotNull(), 1).otherwise(0).alias("conv"),
        )
    )
    seq = path.select(
        "user_id",
        "day",
        "event_type",
        "conv",
        F.lag("event_type").over(wud.orderBy("ts", "event_id")).alias("prev_type"),
        F.row_number()
        .over(wud.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rk_last"),
    )
    trans_raw = (
        seq.select(
            F.coalesce("prev_type", F.lit("START")).alias("i"),
            F.col("event_type").alias("j"),
        )
        .unionAll(
            seq.filter(F.col("rk_last") == 1).select(
                F.col("event_type").alias("i"),
                F.when(F.col("conv") == 1, "CONV").otherwise("NULL").alias("j"),
            )
        )
        .unionAll(
            fp.join(
                path.select("user_id", "day").distinct(),
                ["user_id", "day"],
                "left_anti",
            ).select(F.lit("START").alias("i"), F.lit("CONV").alias("j"))
        )
    )
    n = trans_raw.groupBy("i", "j").agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    ni = n.groupBy("i").agg(F.sum("n_ij").cast("long").alias("n_i"))
    return n, ni, path


def _absorb_iterate_start(
    t_rows: list, rounds: int = 30, start_state: str = "START"
) -> list:
    """Driver-side exact mirror of the q423/q430 absorbing-chain value
    iteration, returning the per-scenario START value after ``rounds``
    rounds (round 10, guide §1.2 step 1 — fix the algorithm's
    distribution, not its constants).

    The relational loop ran 30 rounds of join+aggregate over a
    ≤(|scenarios|·|states|²)-row matrix: correct, but every round is a
    full Spark job over matrix-grain data (~250-900 rows at ANY corpus
    scale), so the loop costs 30 jobs of pure scheduler overhead —
    measured 7.5 s isolated at sf0.01 with the per-round localCheckpoint
    and 14.1 s with checkpoint-every-6 (deep lazy chains re-optimize
    worse than they save). The matrix is bounded by the CHANNEL
    VOCABULARY, never by event volume — exactly the bounded
    driver-action regime the registry's ``build_time_exec`` tag already
    documents for these queries — so the 30 rounds run here in exact
    int64 arithmetic (Python ints; every SUM(q_e6·p_e9) ≤ ~4e16 fits
    int64 on the Spark side too, and ``//`` matches DIV on the
    non-negative values involved).

    Mirrors the relational semantics exactly: p0 = absorbing rows
    (CONV=1e9, NULL=0 per scenario) ∪ zeros for every (scenario, i) in
    the matrix; each round keeps only (scenario, i) groups with ≥1
    joined j term (inner join), sums q_e6·p_e9 over matched terms only,
    floor-divides by 1e6, and overlays the absorbing rows (i is never
    CONV/NULL, so the union is key-disjoint).

    ``t_rows``: (scenario, i, j, q_e6) tuples. Returns
    [(scenario, start_p_e9), ...] for scenarios whose START state
    survives the final round (it always does when START has any
    outgoing transition, matching the relational inner-join filter)."""
    v: dict = {}
    scens = sorted({r[0] for r in t_rows})
    trans: dict = {}
    for s, i, j, q in t_rows:
        trans.setdefault((s, i), []).append((j, q))
    for s in scens:
        v[(s, "CONV")] = 1_000_000_000
        v[(s, "NULL")] = 0
    for key in trans:
        v.setdefault(key, 0)
    for _ in range(rounds):
        new_v: dict = {}
        for (s, i), terms in trans.items():
            tot = None
            for j, q in terms:
                pj = v.get((s, j))
                if pj is None:
                    continue
                tot = (0 if tot is None else tot) + q * pj
            if tot is not None:
                new_v[(s, i)] = tot // 1_000_000
        v = new_v
        for s in scens:
            v[(s, "CONV")] = 1_000_000_000
            v[(s, "NULL")] = 0
    return [
        (s, v[(s, start_state)]) for s in scens if (s, start_state) in v
    ]


def _markov_attr_oracle(rounds: int = 30) -> str:
    iter_ctes = []
    prev = "p0"
    for r in range(1, rounds + 1):
        iter_ctes.append(
            f""", p{r} AS MATERIALIZED (
      SELECT t.rem, t.i AS state,
             CAST(SUM(t.q_e6 * p.p_e9) // 1000000 AS BIGINT) AS p_e9
      FROM t JOIN {prev} p ON p.rem = t.rem AND p.state = t.j
      GROUP BY t.rem, t.i
      UNION ALL
      SELECT rem, state, p_e9 FROM absorbing
    )"""
        )
        prev = f"p{r}"
    return (
        """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type
      FROM events
    ), fp AS (
      SELECT user_id, day, ts AS fp_ts, event_id AS fp_id FROM (
        SELECT user_id, day, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, day
                                  ORDER BY ts, event_id) AS rk
        FROM ev WHERE event_type = 'purchase'
      ) WHERE rk = 1
    ), path AS (
      SELECT e.user_id, e.day, e.ts, e.event_id, e.event_type,
             CASE WHEN f.fp_id IS NOT NULL THEN 1 ELSE 0 END AS conv
      FROM ev e LEFT JOIN fp f USING (user_id, day)
      WHERE e.event_type <> 'purchase'
        AND (f.fp_id IS NULL OR e.ts < f.fp_ts
             OR (e.ts = f.fp_ts AND e.event_id < f.fp_id))
    ), seq AS (
      SELECT user_id, day, event_type, conv,
             LAG(event_type) OVER (PARTITION BY user_id, day
                                   ORDER BY ts, event_id) AS prev_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts DESC, event_id DESC) AS rk_last
      FROM path
    ), trans_raw AS (
      SELECT COALESCE(prev_type, 'START') AS i, event_type AS j FROM seq
      UNION ALL
      SELECT event_type AS i,
             CASE WHEN conv = 1 THEN 'CONV' ELSE 'NULL' END AS j
      FROM seq WHERE rk_last = 1
      UNION ALL
      SELECT 'START' AS i, 'CONV' AS j
      FROM fp f
      WHERE NOT EXISTS (SELECT 1 FROM path p
                        WHERE p.user_id = f.user_id AND p.day = f.day)
    ), n AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_ij FROM trans_raw
      GROUP BY i, j
    ), ni AS (
      SELECT i, CAST(SUM(n_ij) AS BIGINT) AS n_i FROM n GROUP BY i
    ), rems AS (
      SELECT 'none' AS rem
      UNION ALL
      SELECT DISTINCT event_type FROM ev WHERE event_type <> 'purchase'
    ), t AS MATERIALIZED (
      SELECT r.rem, n.i,
             CASE WHEN n.j = r.rem THEN 'NULL' ELSE n.j END AS j,
             CAST(SUM(n.n_ij * 1000000 // ni.n_i) AS BIGINT) AS q_e6
      FROM n JOIN ni USING (i), rems r
      GROUP BY r.rem, n.i, 3
    ), absorbing AS MATERIALIZED (
      SELECT rem, 'CONV' AS state, CAST(1000000000 AS BIGINT) AS p_e9
      FROM rems
      UNION ALL
      SELECT rem, 'NULL' AS state, CAST(0 AS BIGINT) AS p_e9 FROM rems
    ), p0 AS MATERIALIZED (
      SELECT rem, state, p_e9 FROM absorbing
      UNION ALL
      SELECT DISTINCT rem, i AS state, CAST(0 AS BIGINT) AS p_e9 FROM t
    )"""
        + "".join(iter_ctes)
        + f"""
    , base AS (
      SELECT p_e9 AS base_e9 FROM {prev}
      WHERE rem = 'none' AND state = 'START'
    ), removed AS (
      SELECT rem AS channel, p_e9 AS removed_e9 FROM {prev}
      WHERE rem <> 'none' AND state = 'START'
    ), touches AS (
      SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches
      FROM path GROUP BY event_type
    ), eff AS (
      SELECT r.channel,
             COALESCE(tc.n_touches, 0) AS n_touches,
             CAST(b.base_e9 AS DOUBLE) / 1e9 AS p_base,
             CAST(r.removed_e9 AS DOUBLE) / 1e9 AS p_removed,
             GREATEST(CAST(b.base_e9 - r.removed_e9 AS DOUBLE)
                      / b.base_e9, 0.0) AS removal_effect
      FROM removed r LEFT JOIN touches tc ON tc.channel = r.channel, base b
    )
    SELECT channel,
           CAST(n_touches AS BIGINT) AS n_touches,
           ROUND(p_base, 6) AS p_conv_base,
           ROUND(p_removed, 6) AS p_conv_removed,
           ROUND(removal_effect, 6) AS removal_effect,
           ROUND(removal_effect
                 / NULLIF(SUM(removal_effect) OVER (), 0.0), 6)
             AS attribution_share
    FROM eff
    """
    )



_MMR_DOT = (
    "list_sum(list_transform(generate_series(1, 64),"
    " i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)



def _shapley_attr_oracle(rounds: int = 30) -> str:
    iter_ctes = []
    prev = "p0"
    for r in range(1, rounds + 1):
        iter_ctes.append(
            f""", p{r} AS MATERIALIZED (
      SELECT t.mask, t.i AS state,
             CAST(SUM(t.q_e6 * p.p_e9) // 1000000 AS BIGINT) AS p_e9
      FROM t JOIN {prev} p ON p.mask = t.mask AND p.state = t.j
      GROUP BY t.mask, t.i
      UNION ALL
      SELECT mask, state, p_e9 FROM absorbing
    )"""
        )
        prev = f"p{r}"
    return (
        """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, event_type
      FROM events
    ), fp AS (
      SELECT user_id, day, ts AS fp_ts, event_id AS fp_id FROM (
        SELECT user_id, day, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, day
                                  ORDER BY ts, event_id) AS rk
        FROM ev WHERE event_type = 'purchase'
      ) WHERE rk = 1
    ), path AS (
      SELECT e.user_id, e.day, e.ts, e.event_id, e.event_type,
             CASE WHEN f.fp_id IS NOT NULL THEN 1 ELSE 0 END AS conv
      FROM ev e LEFT JOIN fp f USING (user_id, day)
      WHERE e.event_type <> 'purchase'
        AND (f.fp_id IS NULL OR e.ts < f.fp_ts
             OR (e.ts = f.fp_ts AND e.event_id < f.fp_id))
    ), seq AS (
      SELECT user_id, day, event_type, conv,
             LAG(event_type) OVER (PARTITION BY user_id, day
                                   ORDER BY ts, event_id) AS prev_type,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
                                ORDER BY ts DESC, event_id DESC) AS rk_last
      FROM path
    ), trans_raw AS (
      SELECT COALESCE(prev_type, 'START') AS i, event_type AS j FROM seq
      UNION ALL
      SELECT event_type AS i,
             CASE WHEN conv = 1 THEN 'CONV' ELSE 'NULL' END AS j
      FROM seq WHERE rk_last = 1
      UNION ALL
      SELECT 'START' AS i, 'CONV' AS j
      FROM fp f
      WHERE NOT EXISTS (SELECT 1 FROM path p
                        WHERE p.user_id = f.user_id AND p.day = f.day)
    ), n AS (
      SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n_ij FROM trans_raw
      GROUP BY i, j
    ), ni AS (
      SELECT i, CAST(SUM(n_ij) AS BIGINT) AS n_i FROM n GROUP BY i
    ), chan AS MATERIALIZED (
      SELECT event_type AS channel,
             ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS bit
      FROM (SELECT DISTINCT event_type FROM ev
            WHERE event_type <> 'purchase')
    ), masks AS (
      SELECT u.m AS mask FROM UNNEST(generate_series(0, 15)) AS u(m)
    ), t AS MATERIALIZED (
      SELECT m.mask, n.i,
             CASE WHEN c.bit IS NOT NULL
                   AND (m.mask >> c.bit) % 2 = 0 THEN 'NULL'
                  ELSE n.j END AS j,
             CAST(SUM(n.n_ij * 1000000 // ni.n_i) AS BIGINT) AS q_e6
      FROM n
      JOIN ni USING (i)
      LEFT JOIN chan c ON c.channel = n.j, masks m
      GROUP BY m.mask, n.i, 3
    ), absorbing AS MATERIALIZED (
      SELECT mask, 'CONV' AS state, CAST(1000000000 AS BIGINT) AS p_e9
      FROM masks
      UNION ALL
      SELECT mask, 'NULL' AS state, CAST(0 AS BIGINT) AS p_e9 FROM masks
    ), p0 AS MATERIALIZED (
      SELECT mask, state, p_e9 FROM absorbing
      UNION ALL
      SELECT DISTINCT mask, i AS state, CAST(0 AS BIGINT) AS p_e9 FROM t
    )"""
        + "".join(iter_ctes)
        + f"""
    , v AS MATERIALIZED (
      SELECT mask, p_e9 FROM {prev} WHERE state = 'START'
    ), pairs AS (
      SELECT c.channel, c.bit, v0.mask AS s,
             ((v0.mask % 2) + ((v0.mask >> 1) % 2)
              + ((v0.mask >> 2) % 2) + ((v0.mask >> 3) % 2)) AS pc,
             v1.p_e9 - v0.p_e9 AS delta_e9
      FROM chan c
      JOIN v v0 ON (v0.mask >> c.bit) % 2 = 0
      JOIN v v1 ON v1.mask = v0.mask + (1 << c.bit)
    ), phi AS (
      SELECT channel,
             CAST(SUM((CASE pc WHEN 0 THEN 6 WHEN 1 THEN 2
                               WHEN 2 THEN 2 ELSE 6 END) * delta_e9)
                  AS BIGINT) AS num_e9
      FROM pairs GROUP BY channel
    ), touches AS (
      SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches
      FROM path GROUP BY event_type
    ), tot AS (
      SELECT CAST(SUM(num_e9) AS BIGINT) AS tot_e9 FROM phi
    ), vref AS (
      SELECT MAX(CASE WHEN mask = 15 THEN p_e9 END) AS v_full,
             MAX(CASE WHEN mask = 0 THEN p_e9 END) AS v_none
      FROM v
    )
    SELECT phi.channel,
           COALESCE(tc.n_touches, 0) AS n_touches,
           ROUND(CAST(phi.num_e9 AS DOUBLE) / 24.0 / 1e9, 6)
             AS shapley_value,
           ROUND(CAST(phi.num_e9 AS DOUBLE) / NULLIF(tot.tot_e9, 0), 6)
             AS shapley_share,
           ROUND(CAST(vref.v_full AS DOUBLE) / 1e9, 6) AS p_conv_full,
           ROUND(CAST(vref.v_none AS DOUBLE) / 1e9, 6) AS p_conv_none
    FROM phi LEFT JOIN touches tc ON tc.channel = phi.channel, tot, vref
    """
    )



def _lsh_recall_oracle(
    threshold: float = 0.8, num_hashes: int = 32, bands: int = 8
) -> str:
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_portable_slot_consts,
    )

    p = 2147483647
    r = num_hashes // bands
    consts = minhash_portable_slot_consts(num_hashes)
    sig_cols = ",\n             ".join(
        f"MIN((hp * {a} + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_eq = " OR\n        ".join(
        "("
        + " AND ".join(f"a.h{bi * r + j} = b.h{bi * r + j}" for j in range(r))
        + ")"
        for bi in range(bands)
    )
    t10 = int(threshold * 10)
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h60
      FROM (SELECT doc_id, UNNEST(tk) AS tok FROM toks)
    ), sz AS MATERIALIZED (
      SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), co AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON b.h60 = a.h60 AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), exact AS MATERIALIZED (
      SELECT c.id_a, c.id_b
      FROM co c
      JOIN sz sa ON sa.doc_id = c.id_a
      JOIN sz sb ON sb.doc_id = c.id_b
      WHERE ROUND(CAST(c.i AS DOUBLE) / (sa.n + sb.n - c.i), 6)
              >= {threshold}
    ), hp AS (
      SELECT doc_id, h60 % {p} AS hp FROM sh
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hp GROUP BY doc_id
    ), cand AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
        {band_eq})
    ), sized AS (
      SELECT c.id_a, c.id_b, sa.n AS na, sb.n AS nb
      FROM cand c
      JOIN sz sa ON sa.doc_id = c.id_a
      JOIN sz sb ON sb.doc_id = c.id_b
      WHERE LEAST(sa.n, sb.n) * 10 >= GREATEST(sa.n, sb.n) * {t10}
    ), verified AS MATERIALIZED (
      SELECT s.id_a, s.id_b
      FROM (
        SELECT s.id_a, s.id_b, s.na, s.nb, COUNT(*) AS i
        FROM sized s
        JOIN sh a ON a.doc_id = s.id_a
        JOIN sh b ON b.doc_id = s.id_b AND b.h60 = a.h60
        GROUP BY s.id_a, s.id_b, s.na, s.nb
      ) s
      WHERE ROUND(CAST(s.i AS DOUBLE) / (s.na + s.nb - s.i), 6)
              >= {threshold}
    ), counts AS (
      SELECT (SELECT COUNT(*) FROM exact) AS n_exact,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM verified) AS n_verified,
             (SELECT COUNT(*) FROM verified v
              JOIN exact e ON e.id_a = v.id_a AND e.id_b = v.id_b)
               AS n_common
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_verified AS BIGINT) AS n_verified,
           CAST(n_common AS BIGINT) AS n_common,
           ROUND(CAST(n_verified AS DOUBLE) / GREATEST(n_exact, 1), 6)
             AS recall,
           ROUND(CAST(n_verified AS DOUBLE) / GREATEST(n_candidates, 1), 6)
             AS candidate_precision
    FROM counts
    """



def _ivf_recall_oracle(query_mod: int = 17, topk: int = 10) -> str:
    bucket = _ivf_adc_bucket_expr("CAST(embedding[{i}] AS DOUBLE)")
    dist = _ivf_adc_dist_expr("CAST(e.embedding[{i}] AS DOUBLE)")
    return f"""
    WITH cb (s, k, c1, c2, c3, c4, c5, c6, c7, c8) AS (
      VALUES {_ivf_adc_codebook_values()}
    ), v AS MATERIALIZED (
      SELECT vec_id, embedding, {bucket} AS bkt FROM embeddings
    ), pd AS MATERIALIZED (
      SELECT e.vec_id, cb.s, cb.k, {dist} AS d2
      FROM v e CROSS JOIN cb
    ), codes AS (
      SELECT vec_id, s, k FROM (
        SELECT vec_id, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, k) AS rn
        FROM pd
      ) WHERE rn = 1
    ), lut AS (
      SELECT vec_id AS q_id, s, k,
             CAST(FLOOR(d2 * 1000000) AS BIGINT) AS d2_e6
      FROM pd WHERE vec_id % {query_mod} = 0
    ), cand AS (
      SELECT q.vec_id AS q_id, x.vec_id AS x_id
      FROM v q JOIN v x ON x.bkt = q.bkt AND x.vec_id <> q.vec_id
      WHERE q.vec_id % {query_mod} = 0
    ), adc_topk AS MATERIALIZED (
      SELECT q_id, x_id FROM (
        SELECT c.q_id, c.x_id,
               ROW_NUMBER() OVER (PARTITION BY c.q_id
                                  ORDER BY SUM(l.d2_e6), c.x_id) AS rnk
        FROM cand c
        JOIN codes cd ON cd.vec_id = c.x_id
        JOIN lut l ON l.q_id = c.q_id AND l.s = cd.s AND l.k = cd.k
        GROUP BY c.q_id, c.x_id
      ) WHERE rnk <= {topk}
    ), exact_topk AS MATERIALIZED (
      SELECT q_id, x_id FROM (
        SELECT q.vec_id AS q_id, x.vec_id AS x_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY ROUND(list_sum(list_transform(
                   generate_series(1, 64),
                   i -> (CAST(q.embedding[i] AS DOUBLE)
                         - CAST(x.embedding[i] AS DOUBLE))
                        * (CAST(q.embedding[i] AS DOUBLE)
                           - CAST(x.embedding[i] AS DOUBLE)))), 6),
                        x.vec_id) AS rnk
        FROM v q JOIN v x ON x.vec_id <> q.vec_id
        WHERE q.vec_id % {query_mod} = 0
      ) WHERE rnk <= {topk}
    ), per_q AS (
      SELECT e.q_id,
             CAST((SELECT COUNT(*) FROM adc_topk a2
                   WHERE a2.q_id = e.q_id) AS BIGINT) AS n_adc,
             CAST(COUNT(a.x_id) AS BIGINT) AS n_hits
      FROM exact_topk e
      LEFT JOIN adc_topk a ON a.q_id = e.q_id AND a.x_id = e.x_id
      GROUP BY e.q_id
    ), macro AS (
      SELECT ROUND(CAST(SUM(n_hits) AS DOUBLE)
                   / ({topk} * COUNT(*)), 6) AS macro_recall
      FROM per_q
    )
    SELECT p.q_id, p.n_adc, p.n_hits,
           ROUND(CAST(p.n_hits AS DOUBLE) / {topk}, 6) AS recall_at_10,
           m.macro_recall
    FROM per_q p, macro m
    """



def _spectral_oracle(rounds: int = 10) -> str:
    iters = []
    prev = "v0"
    for r in range(1, rounds + 1):
        iters.append(
            f""", av{r} AS MATERIALIZED (
      SELECT e.src AS node, CAST(SUM(v.v_e6) AS BIGINT) AS av
      FROM edges e JOIN {prev} v ON v.node = e.dst
      GROUP BY e.src
    ), v{r} AS MATERIALIZED (
      SELECT a.node,
             CAST((a.av * 1000000) // m.mx AS BIGINT) AS v_e6,
             m.mx
      FROM av{r} a, (SELECT MAX(av) AS mx FROM av{r}) m
    )"""
        )
        prev = f"v{r}"
    return (
        """
    WITH pairs AS (
      SELECT doc_id_a AS a, doc_id_b AS b FROM (
        SELECT f.doc_id AS doc_id_a, g.doc_id AS doc_id_b
        FROM (
          SELECT DISTINCT doc_id,
                 md5(array_to_string(
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '')[1:8], ' ')) AS f
          FROM documents
        ) f
        JOIN (
          SELECT DISTINCT doc_id,
                 md5(array_to_string(
                   list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                               x -> x <> '')[1:8], ' ')) AS f
          FROM documents
        ) g ON f.f = g.f AND f.doc_id < g.doc_id
      )
    ), edges AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL
      SELECT b, a FROM pairs
    ), v0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS v_e6
      FROM edges
    )"""
        + "".join(iters)
        + f"""
    , ranked AS (
      SELECT node, v_e6, mx,
             ROW_NUMBER() OVER (ORDER BY v_e6 DESC, node) AS rnk
      FROM {prev}
    ), meta AS (
      SELECT (SELECT COUNT(*) FROM v0) AS n_nodes,
             (SELECT COUNT(*) FROM pairs) AS n_edges
    )
    SELECT r.rnk AS rank, r.node AS doc_id,
           ROUND(CAST(r.v_e6 AS DOUBLE) / 1e6, 6) AS centrality,
           ROUND(CAST(r.mx AS DOUBLE) / 1e6, 6) AS spectral_radius,
           CAST(m.n_nodes AS BIGINT) AS n_nodes,
           CAST(m.n_edges AS BIGINT) AS n_edges
    FROM ranked r, meta m
    WHERE r.rnk <= 5
    """
    )



def _clustered_cosine_oracle(threshold: float = 0.4) -> str:
    bucket = _ivf_adc_bucket_expr("CAST(embedding[{i}] AS DOUBLE)")
    cos = (
        "list_sum(list_transform(list_zip(a.embedding, b.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        " / (SQRT(list_sum(list_transform(a.embedding,"
        " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
        " * SQRT(list_sum(list_transform(b.embedding,"
        " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))))"
    )
    return f"""
    WITH v AS (
      SELECT vec_id, embedding, {bucket} AS bkt FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({cos}, 4) AS cosine
    FROM v a JOIN v b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
    WHERE ROUND({cos}, 4) >= {threshold}
    """




def _rounded_cosine_sql(a: str = "a", b: str = "b") -> str:
    """The q46/q384 exact-cosine convention as DuckDB text: list_sum
    dot (matches the engine's zip_with left fold), 4-dp rounding so the
    float boundary is identical across engines."""
    return (
        f"ROUND(list_sum(list_transform(list_zip({a}.embedding,"
        f" {b}.embedding),"
        " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
        f" / (SQRT(list_sum(list_transform({a}.embedding,"
        " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
        f" * SQRT(list_sum(list_transform({b}.embedding,"
        " x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))), 4)"
    )


def _lsh_topk_portable_oracle(
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    dim: int = 64,
    query_max: int = 10,
) -> str:
    """DuckDB oracle for the portable multi-table hyperplane-LSH TOP-K
    serving shape (q474): same ±1 plane literals and bit packing as
    _cosine_lsh_portable_oracle, tables stacked into (vec_id, tbl, bkt)
    rows, candidates = DISTINCT union of per-table bucket joins against
    the query set, exact 4-dp cosine, top-k per query with the
    (cosine DESC, x_id) total order."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        portable_hyperplane_signs,
    )

    signs = portable_hyperplane_signs(n_tables, n_planes, dim)
    bucket_exprs = []
    for t in range(n_tables):
        bits = []
        for j in range(n_planes):
            arr = "[" + ", ".join(
                f"{float(s):.1f}" for s in signs[t][j]
            ) + "]"
            dot = (
                f"list_sum(list_transform(list_zip(embedding, {arr}),"
                f" p -> CAST(p[1] AS DOUBLE) * p[2]))"
            )
            bits.append(
                f"(CASE WHEN {dot} >= 0 THEN {1 << j} ELSE 0 END)"
            )
        bucket_exprs.append("(" + " + ".join(bits) + f") AS bk{t}")
    buckets = ",\n             ".join(bucket_exprs)
    stacked = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {t} AS tbl, bk{t} AS bkt FROM sig"
        for t in range(n_tables)
    )
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             {buckets}
      FROM embeddings
    ), stacked AS (
      {stacked}
    ), cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS x_id
      FROM stacked q
      JOIN stacked c ON q.tbl = c.tbl AND q.bkt = c.bkt
      WHERE q.vec_id < {query_max} AND c.vec_id <> q.vec_id
    ), scored AS (
      SELECT cand.q_id, cand.x_id, {_rounded_cosine_sql()} AS cosine
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.q_id
      JOIN embeddings b ON b.vec_id = cand.x_id
    )
    SELECT q_id, x_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT q_id, x_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, x_id) AS rnk
      FROM scored)
    WHERE rnk <= {k}
    """


def _ivf_topk_portable_oracle(k: int = 5, query_mod: int = 17) -> str:
    """DuckDB oracle for the portable IVF TOP-K serving shape (q475):
    q400's coarse quantizer (q384 planes, table 0 → 64 inverted lists),
    candidates from the query's own list, exact 4-dp cosine scoring,
    top-k per query with the (cosine DESC, x_id) total order."""
    bucket = _ivf_adc_bucket_expr("CAST(embedding[{i}] AS DOUBLE)")
    return f"""
    WITH v AS (
      SELECT vec_id, embedding, ({bucket}) AS bkt FROM embeddings
    ), cand AS (
      SELECT q.vec_id AS q_id, c.vec_id AS x_id
      FROM v q JOIN v c ON q.bkt = c.bkt
      WHERE q.vec_id % {query_mod} = 0 AND c.vec_id <> q.vec_id
    ), scored AS (
      SELECT cand.q_id, cand.x_id, {_rounded_cosine_sql()} AS cosine
      FROM cand
      JOIN embeddings a ON a.vec_id = cand.q_id
      JOIN embeddings b ON b.vec_id = cand.x_id
    )
    SELECT q_id, x_id, cosine, CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT q_id, x_id, cosine,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cosine DESC, x_id) AS rnk
      FROM scored)
    WHERE rnk <= {k}
    """


def _lcs8_alias_chain() -> list[tuple[str, str]]:
    """The 8×8 LCS dynamic program UNROLLED as 64 (alias, expression)
    pairs over token columns a1..a8 / b1..b8 — emitted as the SAME text
    for Spark and DuckDB (lateral column-alias references), the
    _dtw6_alias_chain pattern applied to longest-common-subsequence:
    L_ij = GREATEST(L_{i-1,j}, L_{i,j-1}, L_{i-1,j-1} + [a_i = b_j]),
    all int64, no recursion, no UDF. l88 is the LCS length — the
    ROUGE-L kernel (q484)."""
    out = []
    for i in range(1, 9):
        for j in range(1, 9):
            eq = f"(CASE WHEN a{i} = b{j} THEN 1 ELSE 0 END)"
            if i == 1 and j == 1:
                e = eq
            elif i == 1:
                e = f"GREATEST(l1{j - 1}, {eq})"
            elif j == 1:
                e = f"GREATEST(l{i - 1}1, {eq})"
            else:
                e = (
                    f"GREATEST(l{i - 1}{j}, l{i}{j - 1},"
                    f" l{i - 1}{j - 1} + {eq})"
                )
            out.append((f"l{i}{j}", e))
    return out


# export EVERYTHING (incl. underscore helpers) to the domain modules
__all__ = [_n for _n in dir() if not _n.startswith('__') and _n != 'annotations']
