"""Deduplication operators: exact, key-based, MinHash-LSH, SimHash,
n-gram Jaccard (SURVEY §2.8 + training-data extensions).

Design for 100 TB: near-dup detection never does an O(n²) cross join.
MinHash-LSH shuffles once on band buckets (candidate generation is a
self-join restricted to equal band hashes); SimHash joins on rotated
prefix blocks; exact Jaccard verification runs only on LSH candidates.
The brute-force pairwise variant exists solely as a small-data oracle
baseline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators._cache import query_scoped_cache

from noaa_ais_glue_lakehouse_spark.functions.hashing import (
    content_fingerprint,
    hamming64,
    simhash64,
    simhash64_portable,
)
from noaa_ais_glue_lakehouse_spark.functions.text import char_ngrams, tokenize


from noaa_ais_glue_lakehouse_spark.operators.ordering import (
    spread_partitions as _spread,
)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
    raise_on_unconverged: bool = True,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, component).

    Min-label propagation with pointer doubling: each round a node takes
    the minimum label among itself and its neighbors, then jumps through
    its label's label (path halving) — O(log diameter) rounds, so chains
    converge as fast as the dense cliques near-dup graphs actually
    produce. Each round is two joins + one aggregate on the edge list,
    with checkpointing truncating lineage so the loop's plan doesn't
    snowball. This is the pairs→groups step every dedup pipeline needs
    before choosing survivors.

    ``checkpoint_dir``: when set, iterations use reliable ``checkpoint()``
    into that directory instead of ``localCheckpoint()`` — the right choice
    on a real cluster, where localCheckpoint pins executor storage and dies
    with a lost executor. When None, the session conf
    ``spark_graft.checkpoint_dir`` is consulted (operators/checkpointing.py)
    so one setting covers every iterative query. ``raise_on_unconverged``: exhausting
    ``max_iterations`` before the fixed point means the returned labels
    would be WRONG (two nodes of one component under different labels →
    survivor selection keeps both), so the default is to raise rather than
    silently return them.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()

    else:
        # fall back to the session-level conf (spark_graft.checkpoint_dir)
        # shared by all iterative catalog queries
        from noaa_ais_glue_lakehouse_spark.operators.checkpointing import (
            iteration_checkpointer,
        )

        _ckpt = iteration_checkpointer(spark)

    # materialize the edge list once — it feeds every round, and leaving it
    # lazy would re-run the (possibly expensive) pair-producing pipeline
    # per iteration
    edges = _ckpt(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).union(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )

    changed = 1
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("node", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("src", "node")
        )
        propagated = labels.join(neighbor_min, "node", "left").select(
            "node",
            F.col("label").alias("_old"),
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer doubling: label <- label(label)
        ptr = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("jump")
        )
        # carry a changed flag through the round so convergence is a
        # filter over the checkpointed output — not an extra join of new
        # labels against old ones (one fewer shuffle job per round)
        new_labels = _ckpt(
            propagated.join(ptr, "label", "left").select(
                "node",
                F.coalesce("jump", "label").alias("label"),
                (F.coalesce("jump", "label") != F.col("_old")).alias("_changed"),
            )
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge within {max_iterations} "
            "iterations — labels would be incorrect; raise max_iterations"
        )
        if raise_on_unconverged:
            raise RuntimeError(msg)
        import warnings

        warnings.warn(msg, stacklevel=2)
    return labels.select(F.col("node").alias("id"), F.col("label").alias("component"))


def dedup_by_components(
    df: DataFrame, pairs: DataFrame, id_col: str, quality_col: str | None = None
) -> DataFrame:
    """Keep one row per near-dup component plus every row that appears in
    no pair — the survivor-selection step on top of any pair-producing
    dedup family.

    Default survivor is the min-id representative (reproducible without
    any extra data). With ``quality_col``, the survivor is the
    highest-quality member (ties → min id) — what real corpus dedup keeps
    (longest / best-scored document), at the cost of one extra join to
    attach quality to the component table.
    """
    comp = connected_components(pairs)
    if quality_col is None:
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    scored = comp.join(
        df.select(F.col(id_col).alias("id"), F.col(quality_col).alias("_q")), "id"
    )
    # one survivor per component: max quality, ties broken by MIN id.
    # min_by over (-quality, id) instead of max_by over (quality, -id):
    # negating the id would break (ANSI) or NULL out (non-ANSI) for
    # string ids, which every other dedup path supports; negating the
    # numeric quality keeps the single combinable aggregate id-type-
    # agnostic. NULL quality coalesces to -inf BEFORE negation: structs
    # order nulls-first, so a bare -NULL field would make a NULL-quality
    # member WIN the min_by instead of losing to any scored member.
    negq = -F.coalesce(F.col("_q").cast("double"), F.lit(float("-inf")))
    key = F.struct(negq.alias("negq"), F.col("id"))
    winners = scored.groupBy("component").agg(
        F.min_by(F.col("id"), key).alias("winner_id")
    )
    losers = (
        scored.join(winners, "component")
        .filter(F.col("id") != F.col("winner_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def winnow_fingerprint_index(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing fingerprint index: one row per (id, fingerprint).

    Two projection stages split by an exchange: stage 1 hashes each
    k-gram exactly once; stage 2 takes window minima over the *column*
    holding the hash array. Inlined into one projection (the naive
    Column-only form, :func:`functions.text.winnow_fingerprints`), the
    window-min step would recompute the full hash array per window —
    O(n²) interpreted md5 per document (measured 153 s vs 3 s at sf0.01).
    """
    s = F.lower(F.col(text_col))
    n = F.length(s)
    gram_idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    hashes = F.transform(gram_idx, lambda i: F.md5(s.substr(i, F.lit(k))))
    hashed = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), hashes.alias("_h")
    )
    m = F.size("_h")
    win_idx = F.when(m >= w, F.sequence(F.lit(1), m - (w - 1))).otherwise(
        F.array().cast("array<int>")
    )
    mins = F.transform(win_idx, lambda j: F.array_min(F.slice("_h", j, w)))
    return hashed.select(
        F.col(id_col), F.explode(F.array_distinct(mins)).alias("fingerprint")
    )


def winnow_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 10,
    max_df: int | None = None,
) -> DataFrame:
    """Winnowing near-dup pairs: documents sharing ≥ ``min_shared``
    winnowing fingerprints (id_a < id_b, with the shared count).

    Deterministic (no randomness), so unlike the MinHash path this
    near-dup family is fully oracle-checkable. Candidate generation is a
    fingerprint equi-join — the same no-cross-product shape as LSH
    banding. The fingerprint index is cached so the self-join's two
    sides don't each recompute the per-gram md5 pass.

    ``max_df`` is the at-scale knob: char-``k``-gram diversity SATURATES
    as a corpus grows (the round-5 decade measurement: 10× docs → mean
    fingerprint df 2.8 → 9.4, candidate pairs 5.5M → 513M, a ~n²
    curve — see SCALING.md), so common-idiom fingerprints turn the
    equi-join quadratic exactly the way stopwords poison a token join.
    Setting ``max_df`` drops fingerprints held by more than that many
    documents BEFORE the self-join (MOSS does the same: ultra-common
    grams are boilerplate, not evidence of copying), bounding candidate
    pairs at ``|fingerprints|·max_df²/2`` — linear in the corpus for
    fixed ``max_df``. Pairs supported ONLY by boilerplate grams fall
    below ``min_shared`` and drop; truly-duplicated content shares many
    RARE fingerprints and survives. The hot-list broadcast is bounded
    by ``rows/max_df``. Default None preserves the exact q61 contract.
    """
    idx = winnow_fingerprint_index(df, id_col, text_col, k, w)
    if max_df is not None:
        # df cap as a count window over the fingerprint key (round 10,
        # guide §2.4): the previous hot-list rollup + broadcast anti-join
        # referenced the index twice, so the per-gram md5 + winnow pass
        # ran twice inside the cached index build (the before-plan scans
        # the corpus twice). The window computes the document frequency
        # on the SAME pass — one fingerprint subtree, one exchange, and
        # the filter keeps exactly the rows the anti-join kept
        # (count ≤ max_df ⟺ not in the >max_df hot list; fingerprints
        # are md5 hex, never NULL). The exchange also leaves the index
        # hash-partitioned on the self-join key.
        w_df = Window.partitionBy("fingerprint")
        idx = (
            idx.withColumn("_df", F.count(F.lit(1)).over(w_df))
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    idx = query_scoped_cache(idx)
    a = idx.alias("a")
    b = idx.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def dedup_exact(
    df: DataFrame, content_cols: list[str], id_col: str
) -> DataFrame:
    """Exact content dedup keeping the minimum-id row per fingerprint.

    Deterministic survivor choice (min id) — unlike the reference's
    ``dropDuplicates`` which keeps an arbitrary first row (D1), this is
    reproducible and therefore oracle-checkable. Single hash-shuffle on the
    fingerprint; at scale the fingerprint groupBy is a map-side-combinable
    aggregation.
    """
    fp = content_fingerprint(content_cols)
    keyed = df.withColumn("_fp", fp)
    # Single shuffle: min_by pulls the whole winning row through the same
    # hash aggregation that picks the min id (map-side combinable), vs the
    # groupBy + join-back form which shuffles twice.
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        keyed.groupBy("_fp")
        .agg(F.min_by(row, F.col(id_col)).alias("_row"))
        .select("_row.*")
    )


def jaccard_pairs_exact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    use_char_ngrams: bool = False,
    ngram_n: int = 3,
) -> DataFrame:
    """Brute-force pairwise token/shingle Jaccard ≥ threshold (id_a < id_b).

    O(n²) cross join — the correctness baseline for the LSH path below and
    the duckdb-oracle query. A length-ratio prefilter bounds the candidate
    set: |A∩B|/|A∪B| ≥ t implies t ≤ |A|/|B| ≤ 1/t for |A|≤|B|.
    """
    shingle = (
        char_ngrams(F.col(text_col), ngram_n)
        if use_char_ngrams
        else F.array_distinct(tokenize(F.col(text_col)))
    )
    sets = df.select(
        F.col(id_col), shingle.alias("_sh"), F.size(shingle).alias("_n")
    )
    a = sets.alias("a")
    b = sets.alias("b")
    pairs = a.join(
        b,
        (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (F.least("a._n", "b._n") >= F.greatest("a._n", "b._n") * F.lit(threshold)),
    )
    inter = F.size(F.array_intersect("a._sh", "b._sh"))
    union = F.col("a._n") + F.col("b._n") - inter
    jacc = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(jacc, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs_prefix_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    use_char_ngrams: bool = False,
    ngram_n: int = 3,
) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs WITHOUT the O(n²) cross join —
    the AllPairs/PPJoin prefix-filter algorithm (Bayardo et al., WWW'07;
    public algorithm, not in the reference).

    Guarantee: output ≡ ``jaccard_pairs_exact`` (same ids, same scores).
    Unlike MinHash/SimHash there is no recall loss — this is the scale
    path when the dedup policy requires *exact* near-dup semantics.

    How: under a global rarest-first token order, two sets with
    J ≥ t must share ≥ ⌈t·|A|⌉ tokens, hence must collide in their
    first ``|A| - ⌈t·|A|⌉ + 1`` tokens (the prefix). Candidates are an
    equi-join on prefix tokens only — and because prefixes hold each
    record's RAREST tokens, posting lists are short by construction
    (frequency ordering is what defeats the stopword hot keys that would
    make a token-keyed join skew at 100 TB). Candidates are then
    exact-verified with one |candidates|-sized join back to the sets.

    Shuffles: token-frequency agg, per-doc rank window, candidate
    equi-join, verify joins — all keyed, none quadratic.
    """
    shingle = _shingle_expr(text_col, use_char_ngrams, ngram_n)
    sets = (
        # spread first: a single-file read is one partition, and the
        # shingle/explode stage below would otherwise run on one core
        _spread(df)
        .select(F.col(id_col).alias("_id"), shingle.alias("_sh"))
        .withColumn("_n", F.size("_sh"))
        .filter(F.col("_n") > 0)
    )
    # sets is not cached: with the prefix relation cached below, the
    # round-11 A/B measured a sets cache at parity (10.2 vs 10.6 s, sf0.1)
    tok = sets.select("_id", "_n", F.explode("_sh").alias("_tok"))
    # Token document-frequency as a count window on the SAME exploded
    # stream (round 11 — the q372 treatment): the former
    # groupBy+join-back referenced the tok subtree twice, so the corpus
    # was re-shingled for the frequency table and again for the join
    # probe side (the executed plan held SIX shingle passes in total).
    wdf = Window.partitionBy("_tok")
    # rarest-first rank within each doc; token text tiebreaks the rank so
    # the global order is total and both sides of a pair agree on it
    rank_w = Window.partitionBy("_id").orderBy("_df", "_tok")
    # prefix length n - ceil(t*n) + 1; the 1e-9 slack counters binary
    # float fuzz in t*n (0.8*35 -> 28.000000000000004 would over-ceil and
    # silently DROP candidates; the slack can only lengthen the prefix,
    # and the exact verify discards any extras)
    prefix_len = (
        F.col("_n")
        - F.ceil(F.col("_n") * F.lit(threshold) - F.lit(1e-9)).cast("int")
        + 1
    )
    # The prefix relation feeds BOTH self-join sides; cached (bounded
    # registry) so the shingle→window pipeline executes once, not twice.
    # Round-11 A/B at sf0.1 (outputs verified identical, 2,968,398
    # rows): 19.7 s → 10.2 s median for window-df + cached prefix alone.
    prefix = query_scoped_cache(
        tok.withColumn("_df", F.count(F.lit(1)).over(wdf))
        .withColumn("_rank", F.row_number().over(rank_w))
        .filter(F.col("_rank") <= prefix_len)
    )
    a = prefix.select(
        F.col("_id").alias("id_a"),
        F.col("_n").alias("_na"),
        F.col("_rank").alias("_ra"),
        "_tok",
    )
    b = prefix.select(
        F.col("_id").alias("id_b"),
        F.col("_n").alias("_nb"),
        F.col("_rank").alias("_rb"),
        "_tok",
    )
    # Same AQE trap as _band_pairs: candidate rows are ~16 bytes, so the
    # post-distinct exchange would coalesce to a couple of partitions by
    # byte size and the compute-bound array_intersect verify would run
    # near-serial (measured 149 s -> ~8 s at sf0.1 on the dup-heavy
    # corpus). A user-specified numeric repartition is exempt.
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # PPJoin positional filter: a shared prefix token at ranks (ra, rb)
    # caps the achievable overlap at 1 + min(na-ra, nb-rb); pairs whose
    # cap is below the required overlap α = ⌈t/(1+t)·(na+nb)⌉ can't
    # reach J ≥ t and are pruned BEFORE the distinct shuffle.
    alpha = F.ceil(
        F.lit(threshold)
        / (1.0 + threshold)
        * (F.col("_na") + F.col("_nb"))
        - F.lit(1e-9)
    )
    pos_cap = 1 + F.least(
        F.col("_na") - F.col("_ra"), F.col("_nb") - F.col("_rb")
    )
    cands = (
        a.join(b, "_tok")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (
                F.least("_na", "_nb")
                >= F.greatest("_na", "_nb") * F.lit(threshold)
            )
            & (pos_cap >= alpha)
        )
        .select("id_a", "id_b")
        .distinct()
        .repartition(parallelism, "id_a", "id_b")
    )
    # 128-bit occupancy masks of each set, for the exactness-preserving
    # verify prefilter (see _mask_bound_filter): the shingles here are
    # STRINGS (the exactness contract forbids intersecting hashes), so
    # the mask hashes each shingle once per DOC — the per-PAIR intersect
    # still compares the strings themselves.
    masked = sets.withColumn(
        "_mlo",
        F.expr(
            "aggregate(_sh, 0L, (m, x) ->"
            " CASE WHEN pmod(xxhash64(x), 128) < 64"
            " THEN m | shiftleft(1L, CAST(pmod(xxhash64(x), 128) AS INT))"
            " ELSE m END)"
        ),
    ).withColumn(
        "_mhi",
        F.expr(
            "aggregate(_sh, 0L, (m, x) ->"
            " CASE WHEN pmod(xxhash64(x), 128) >= 64"
            " THEN m | shiftleft(1L, CAST(pmod(xxhash64(x), 128) - 64 AS INT))"
            " ELSE m END)"
        ),
    )
    sa = masked.select(
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("_sha"),
        F.col("_n").alias("_na"),
        F.col("_mlo").alias("_mloa"),
        F.col("_mhi").alias("_mhia"),
    )
    sb = masked.select(
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("_shb"),
        F.col("_n").alias("_nb"),
        F.col("_mlo").alias("_mlob"),
        F.col("_mhi").alias("_mhib"),
    )
    verify = _mask_bound_filter(
        cands.join(sa, "id_a").join(sb, "id_b"), threshold
    )
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = F.col("_na") + F.col("_nb") - inter
    jacc = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return verify.select(
        "id_a", "id_b", F.round(jacc, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def band_geometry(threshold: float) -> tuple[int, int]:
    """Threshold-adaptive banded-LSH geometry → (num_hashes, bands).

    The S-curve midpoint of b bands of r rows sits at (1/b)^(1/r); a
    geometry tuned for one threshold is wasteful at another.  The default
    8 bands of 4 (midpoint 0.59) is right for the generic 0.7 contract,
    but at threshold 0.8 it collides ~40% of ALL Jaccard-0.5 pairs —
    candidates the exact verify then pays to reject.  7 bands of 5
    (midpoint 0.68) halves sub-threshold collisions while keeping
    p(collide | J=0.8) = 1-(1-0.8^5)^7 = 0.94 and p(J=0.9) = 0.998.

    Measured at sf0.1 (5000 docs, threshold 0.8): candidates 8.59M→6.97M,
    verified pairs 2.960M→2.906M (98.2% of the 8×4 output), fresh wall
    5.3s→3.8s.  The next step up (5 bands of 6, midpoint 0.76) was
    measured and REJECTED: verified pairs fell to 2.651M — 89.6%, under
    the ≥0.9 recall floor the operator promises.
    """
    if threshold >= 0.75:
        return 35, 7
    return 32, 8


def _shingle_expr(text_col: str, use_char_ngrams: bool, ngram_n: int):
    return (
        char_ngrams(F.col(text_col), ngram_n)
        if use_char_ngrams
        else F.array_distinct(tokenize(F.col(text_col)))
    )


def _minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    use_char_ngrams: bool,
    ngram_n: int,
    with_sets: bool,
) -> DataFrame:
    """Per-document minhash index in ONE shingle pass: 32 signature mins
    (``_h0..``) and, when ``with_sets``, the xxhash64'd shingle set
    (``_sh``/``_n``) the exact-Jaccard verify needs.

    Signatures via explode + num_hashes min-aggregates rather than the
    Column-level transform/array_min form (functions/hashing.py):
    higher-order functions are interpreted per element in Spark, while
    explode + conditional aggregates stay inside whole-stage codegen
    with map-side partial aggregation — the shuffle carries ~one row per
    document, not per shingle.

    Hash family: each shingle STRING is hashed exactly once
    (``h = xxhash64(s)``); slot i then mixes the 64-bit value with the
    slot index (``xxhash64(h, i)``). The naive family
    (``xxhash64(s, i)`` per slot, functions/hashing.py) re-hashes the
    full string bytes num_hashes times — 32× the string-hashing work for
    identical collision statistics (a min over any pairwise-independent
    integer mix of a uniform 64-bit value is still a valid minhash;
    measured 8.7 s → 3.9 s index build at sf0.1). The hashed SET reuses
    the same single ``xxhash64(s)`` values, so verify and signatures
    agree on the underlying shingle universe.

    The hashed set MUST be built inside this aggregation, not as a
    projection over the doc scan: CollapseProject pulls a bare
    tokenize+transform projection up through the verify joins, so the
    per-document work would be re-evaluated once per CANDIDATE PAIR per
    side (interpreted higher-order functions ×|candidates|, not ×|docs| —
    measured 53 s → 9 s at sf0.1 on a corpus with a 2300-doc dup
    cluster). explode + collect_set is a hard optimizer barrier and
    shares the one-shuffle shape of the signature aggregation.
    """
    shingle = _shingle_expr(text_col, use_char_ngrams, ngram_n)
    exploded = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(shingle).alias("_s"))
        .select(F.col(id_col), F.xxhash64("_s").alias("_hs"))
    )
    aggs = [
        F.min(F.xxhash64(F.col("_hs"), F.lit(i))).alias(f"_h{i}")
        for i in range(num_hashes)
    ]
    if with_sets:
        aggs.append(F.collect_set(F.col("_hs")).alias("_sh"))
        aggs.extend(_shingle_mask_aggs("_hs"))
    out = exploded.groupBy(id_col).agg(*aggs)
    if with_sets:
        out = out.withColumn("_n", F.size("_sh"))
    return out


def _shingle_mask_aggs(hash_col: str) -> list[F.Column]:
    """128-bit occupancy mask of the shingle-hash set, as two bit_or
    aggregates (codegen'd, map-side combinable — rides the SAME shuffle
    as the signature mins).

    Feeds the exactness-preserving verify prefilter (round 11): every
    element of A whose mask bit is absent from B's mask is provably not
    shared, so |A∩B| ≤ |A| − bit_count(maskA & ~maskB). With ~30-element
    sets in 128 bits the bound rejects most sub-threshold candidate
    pairs for two bit-ops + two popcounts, before the hashset-building
    array_intersect runs (measured 5.7M→3.4M intersections, output
    bit-identical, q27 verify 3.13→2.71 s at sf0.1).
    """
    return [
        F.expr(
            f"bit_or(CASE WHEN pmod({hash_col}, 128) < 64"
            f" THEN shiftleft(1L, CAST(pmod({hash_col}, 128) AS INT))"
            f" ELSE 0L END)"
        ).alias("_mlo"),
        F.expr(
            f"bit_or(CASE WHEN pmod({hash_col}, 128) >= 64"
            f" THEN shiftleft(1L, CAST(pmod({hash_col}, 128) - 64 AS INT))"
            f" ELSE 0L END)"
        ).alias("_mhi"),
    ]


def _mask_bound_filter(out: DataFrame, threshold: float) -> DataFrame:
    """Reject candidate pairs whose UPPER BOUND on Jaccard already fails
    the final ``round(jacc, 6) >= threshold`` filter.

    ``ub >= |A∩B|`` (see _shingle_mask_aggs) and J = i/(|A|+|B|−i) is
    monotone increasing in i, so round(J_ub, 6) < t implies
    round(J_true, 6) < t — the surviving set is EXACTLY the set the
    verify would keep; no float-edge case can drop a true pair because
    the prefilter is the final filter applied to a provable upper bound.
    """
    na, nb = F.col("_na"), F.col("_nb")
    ub = F.least(
        na
        - F.bit_count(F.expr("_mloa & ~_mlob"))
        - F.bit_count(F.expr("_mhia & ~_mhib")),
        nb
        - F.bit_count(F.expr("_mlob & ~_mloa"))
        - F.bit_count(F.expr("_mhib & ~_mhia")),
    )
    jacc_ub = ub.cast("double") / (na + nb - ub).cast("double")
    return out.filter(F.round(jacc_ub, 6) >= threshold)


def _band_pairs(
    feats: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Banded-LSH candidate pairs (id_a < id_b, exactly once) from a
    per-document signature index (``_h0..`` columns)."""
    r = num_hashes // bands
    # Band hashes as FLAT columns (not an array): every band of every doc
    # is needed in the join condition below, and flat primitive columns
    # keep the whole condition inside whole-stage codegen.
    band_hash = [
        F.xxhash64(
            F.concat_ws(
                ",", *[F.col(f"_h{i * r + j}").cast("string") for j in range(r)]
            )
        ).alias(f"_b{i}")
        for i in range(bands)
    ]
    banded_docs = feats.select(F.col(id_col), *band_hash)
    banded = banded_docs.select(
        id_col,
        *[f"_b{i}" for i in range(bands)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"), F.col(f"_b{i}").alias("band_hash")
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, *[f"_b{i}" for i in range(bands)], "band.band_idx", "band.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    # Cross-band dedup WITHOUT a shuffle: a pair colliding in k bands
    # appears k times in the raw band join; emitting it only from its
    # FIRST colliding band (no earlier band agrees) produces each pair
    # exactly once, replacing the dropDuplicates over the k-fold join
    # output (22.5M rows for a 2300-doc dup cluster at sf0.1) with a
    # bands-1-term boolean filter evaluated inside the join.
    cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for j in range(bands - 1):
        cond = cond & (
            (F.col("a.band_idx") <= F.lit(j)) | (F.col(f"a._b{j}") != F.col(f"b._b{j}"))
        )
    pairs = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )
    # Explicit numeric repartition on the pair key: pair rows are ~16
    # bytes, so AQE would coalesce the exchange to a couple of partitions
    # by byte size — and the downstream exact-Jaccard verify
    # (compute-bound, not byte-bound) would inherit that near-serial
    # layout. A user-specified repartition is exempt from AQE coalescing.
    parallelism = feats.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(parallelism, "id_a", "id_b")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 8,
    use_char_ngrams: bool = True,
    ngram_n: int = 5,
) -> DataFrame:
    """MinHash + banded LSH candidate pairs (id_a < id_b, distinct).

    shingle → minhash signature (num_hashes) → split into ``bands`` bands of
    r = num_hashes/bands rows → hash each band → self-join on (band_idx,
    band_hash). Probability a pair with Jaccard s collides:
    1-(1-s^r)^bands. The join is an equi-join on the band key — one shuffle,
    no cross product; bucket skew (giant clusters) is bounded by AQE skew
    handling plus the first-collision-band dedup.

    The per-doc signature index (~8·num_hashes bytes/doc) is cached so
    the self-join's two sides don't each recompute the full shingle
    pass — the standard "materialize the signature index" step of any
    LSH pipeline. cache() beats
    localCheckpoint here: no separate blocking job, and the
    InMemoryRelation's accurate statistics let AQE broadcast the verify
    joins (measured 13.9 s → 6.1 s fresh-build at sf0.1). Blocks are
    LRU-evictable (MEMORY_AND_DISK), so repeated invocations in one
    session self-limit.
    """
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    feats = _minhash_index(
        df, id_col, text_col, num_hashes, use_char_ngrams, ngram_n, with_sets=False
    )
    feats = query_scoped_cache(feats)
    return _band_pairs(feats, id_col, num_hashes, bands)


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_hashes: int | None = None,
    bands: int | None = None,
    use_char_ngrams: bool = True,
    ngram_n: int = 5,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard ≥ threshold.

    ``num_hashes``/``bands`` default to the threshold-adaptive geometry
    from :func:`band_geometry`; pass both explicitly to pin a shape.

    The verify join re-attaches shingle sets only for candidate ids —
    at scale this is |candidates| work, not |corpus|².

    Rejected design (measured, do not revisit): an estimate-first verify
    that compares the 32 signature slots before paying for the exact
    intersection. Attaching 32 extra columns per join side and summing a
    32-term equality chain pushed the verify stage out of whole-stage
    codegen (hugeMethodLimit) into interpreted execution — 6.5 s → 115 s
    at sf0.1 for a recall delta of 53 pairs in 2.96M. The exact
    size-prefilter + array_intersect below stays comfortably inside
    codegen.

    Verify runs over xxhash64'd shingles: array_intersect on longs skips
    per-element string hashing/equality — measured 18.7s → 11.2s at
    sf0.1 with identical output (a 64-bit collision shifting a Jaccard
    across the threshold needs colliding shingles in one document pair;
    probability ~2^-64 per pair).

    Rejected design #2 (measured, do not revisit): widening the bands to
    4×8 (r=8) to shrink the candidate set. At sf0.1 it cuts candidates
    95× (24,942 → 263) and looks free because the testdata's near-dups
    are close to identical (251/256 pairs still found) — but the
    operator's contract is threshold 0.7, where the collision curve
    1-(1-s^8)^4 collapses (p(0.7)=0.21): on the recall corpus the
    measured recall fell 0.98 → 0.32 against the ≥0.9 floor. The 8×4
    geometry stands; at sf0.1 the cost center is the shared index build
    (one shingle pass), already single-hash + codegen-optimized below.

    ONE cached per-doc index carries both the signature mins and the
    hashed shingle set (~8·(num_hashes+|set|) bytes/doc), shared by the
    band self-join (2 consumers) and the verify joins (2 more) — without
    it the full text→shingle→agg pass runs four times. See minhash_lsh_candidates for why cache() over
    localCheckpoint.

    Round-4 cost accounting at sf0.1 / threshold 0.8 (measured): the
    7×5 geometry yields 6.97M candidates → 2.91M TRUE pairs — the
    verify floor is the answer size, not overhead. Isolated steady
    state is 5.8-6.3 s; inside the 32-query bench suite the same query
    medians 8.7-12.4 s because the JVM's generated-class/JIT state for
    this plan is evicted by the 31 other plan shapes between trials
    (bench.py's clearCache+GC already removes the storage/GC
    components; the residual is code-cache churn, priced into the
    suite honestly rather than benched in isolation). Two further
    designs measured and REJECTED here: (a) canonicalizing identical
    hashed shingle sets before verify — 5000 docs hold 3,935 distinct
    sets, bounding the gain at (3935/5000)² ≈ 1.6× for an extra
    group-join + pair-expansion stage; (b) 6×6 geometry — the collision
    curve alone gives p(J=0.8) = 1-(1-0.8⁶)⁶ = 0.84 < the 0.9 recall
    floor, failing before verify even starts.
    """
    if num_hashes is None and bands is None:
        num_hashes, bands = band_geometry(threshold)
    if num_hashes is None or bands is None:
        raise ValueError("pass both num_hashes and bands, or neither")
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    feats = _minhash_index(
        df, id_col, text_col, num_hashes, use_char_ngrams, ngram_n, with_sets=True
    )
    feats = query_scoped_cache(feats)
    cands = _band_pairs(feats, id_col, num_hashes, bands)
    sets = feats.select(F.col(id_col), "_sh", "_n", "_mlo", "_mhi")
    out = (
        cands.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("_sh").alias("_sha"),
                F.col("_n").alias("_na"),
                F.col("_mlo").alias("_mloa"),
                F.col("_mhi").alias("_mhia"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("_sh").alias("_shb"),
                F.col("_n").alias("_nb"),
                F.col("_mlo").alias("_mlob"),
                F.col("_mhi").alias("_mhib"),
            ),
            "id_b",
        )
    )
    # Exactness-preserving size prefilter before the set intersection:
    # J(A,B) ≥ t forces t ≤ |A|/|B| ≤ 1/t, so size-mismatched candidates
    # are rejected without paying for array_intersect.
    na, nb = F.col("_na"), F.col("_nb")
    out = out.filter(F.least(na, nb) >= F.greatest(na, nb) * F.lit(threshold))
    # 128-bit occupancy-mask bound: rejects most remaining sub-threshold
    # pairs for a few bit-ops each (round 11; see _mask_bound_filter for
    # the exactness argument)
    out = _mask_bound_filter(out, threshold)
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = na + nb - inter
    jacc = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )
    return out.select(
        "id_a", "id_b", F.round(jacc, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _portable_simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _simhash) for the md5 portable hash family via ONE md5 pass
    per token — the production shape of ``simhash64_portable``: explode
    tokens, build a 64-bit long from the md5's leading 16 hex chars (two
    32-bit ``conv`` chunks), then compute all 64 bit-votes as
    conditional sums in a SINGLE hash aggregation. The Column form
    evaluates 64 HOF aggregates each re-deriving nibbles from the hex
    string (~4.2 s at sf0.1); this one-pass form is ~3× cheaper and
    bit-identical: vote ``b`` tests global bit ``4·(15−b//4) + b%4`` of
    the token hash — exactly the nibble/bit ``simhash64_portable``
    reads, so the q28 DuckDB oracle needs no change (equality of the two
    forms is pinned in tests/test_dedup.py). Empty-token documents
    survive via ``explode_outer`` with simhash 0, matching both the
    Column form and the oracle's empty-sum convention.
    """
    toks = tokenize(F.col(text_col))
    t = _spread(df.select(F.col(id_col), toks.alias("_tk"))).select(
        F.col(id_col), F.explode_outer("_tk").alias("_t")
    )
    h = F.md5(F.col("_t"))
    h64 = F.shiftleft(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long"), 32
    ).bitwiseOR(F.conv(F.substring(h, 9, 8), 16, 10).cast("long"))
    t = t.select(F.col(id_col), h64.alias("_h"))
    aggs = []
    for b in range(64):
        g = 4 * (15 - b // 4) + (b % 4)
        vote = F.sum(
            F.when(F.col("_h").isNull(), F.lit(0))
            .when(
                F.shiftright(F.col("_h"), g).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            )
            .otherwise(F.lit(-1))
        )
        mask = (1 << b) if b < 63 else -(1 << 63)
        aggs.append(
            F.when(vote > 0, F.lit(mask).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias(f"_b{b}")
        )
    grouped = t.groupBy(id_col).agg(*aggs)
    out = F.col("_b0")
    for b in range(1, 64):
        out = out.bitwiseOR(F.col(f"_b{b}"))
    return grouped.select(F.col(id_col), out.alias("_simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_blocks: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Block-permutation LSH: split the 64-bit simhash into ``n_blocks``
    blocks; any pair within Hamming d < n_blocks shares at least one
    identical block (pigeonhole), so candidates come from equi-joins on
    (block_idx, block_value) — no cross join. Verify with bit_count(xor).
    Pigeonhole requires ``n_blocks > max_hamming`` — enforced here rather
    than silently losing recall: with n_blocks > d, a pair at Hamming d
    has at least one block its d differing bits never touch, so LSH
    recall is exactly 1.0 and the output EQUALS the brute-force answer —
    which is why ``portable_hash=True`` (md5-based
    :func:`simhash64_portable` instead of xxhash64) makes the whole
    pipeline hash-oracle-checkable: a DuckDB oracle can rebuild the
    identical simhashes and enumerate the identical pair set.
    """
    if max_hamming >= n_blocks:
        raise ValueError(
            f"pigeonhole needs n_blocks > max_hamming ({n_blocks} <= {max_hamming}): "
            "raise n_blocks or lower max_hamming"
        )
    if portable_hash:
        sigs = _portable_simhash_table(df, id_col, text_col)
    else:
        sigs = _spread(df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col), simhash64(tokenize(F.col(text_col))).alias("_simhash")
        )
    # one 16-byte row per doc; the self-join's two sides would each
    # recompute the full tokenize+simhash pass otherwise
    sigs = query_scoped_cache(sigs)
    block_bits = 64 // n_blocks
    mask = (1 << block_bits) - 1
    blocked = sigs.select(
        id_col,
        "_simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        F.shiftright("_simhash", i * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("blk"),
    ).select(id_col, "_simhash", "blk.block_idx", "blk.block_val")

    a = blocked.alias("a")
    b = blocked.alias("b")
    # first-collision-block dedup (same trick as the minhash bands): a
    # pair sharing k blocks is emitted only from the earliest shared
    # block, so no distinct over the k-fold join output is needed. The
    # earlier-block values derive from the simhash both sides already
    # carry — plain shift/mask codegen terms.
    cond = (
        (F.col("a.block_idx") == F.col("b.block_idx"))
        & (F.col("a.block_val") == F.col("b.block_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for j in range(n_blocks - 1):
        blk_a = F.shiftright("a._simhash", j * block_bits).bitwiseAND(F.lit(mask))
        blk_b = F.shiftright("b._simhash", j * block_bits).bitwiseAND(F.lit(mask))
        cond = cond & ((F.col("a.block_idx") <= F.lit(j)) | (blk_a != blk_b))
    cands = a.join(b, cond).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a._simhash").alias("_ha"),
        F.col("b._simhash").alias("_hb"),
    )
    return cands.select(
        "id_a", "id_b", hamming64(F.col("_ha"), F.col("_hb")).alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def drop_boilerplate_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 8,
    max_df: int = 2,
) -> DataFrame:
    """C4-style LINE-level dedup (Raffel et al. 2020 dropped any line
    occurring ≥3 times in the corpus), generalized to fixed
    ``seg_tokens``-token segments for unpunctuated text: a segment whose
    exact text appears in more than ``max_df`` documents is boilerplate
    (headers, navigation, license blocks) and is removed from EVERY
    document; survivors are reassembled in original order.

    Returns (id, n_segments, n_kept, cleaned_text). Scale shape: one
    posexplode, one map-side-combinable document-frequency count on the
    segment hash, one join back, one ordered re-aggregation — all keyed
    equi-joins; the df table is |distinct segments| and can broadcast
    when small. Empty documents survive with empty cleaned_text.
    """
    toks = tokenize(F.col(text_col))
    n_segs = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.array_join(
            F.slice(toks, i * seg_tokens + 1, seg_tokens), " "
        ),
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.when(F.size(toks) > 0, segs)
        .otherwise(F.array().cast("array<string>"))
        .alias("_segs"),
    )
    exploded = base.select(
        "_id", F.posexplode_outer("_segs").alias("_pos", "_seg")
    )
    # Segment document-frequency in ONE pass over the exploded stream
    # (round 10, guide §2.4): the previous distinct→rollup→join-back
    # referenced `exploded` twice, so the tokenize+segment+posexplode
    # subtree ran once per reference. max(dense_rank by _id) over the
    # segment partition IS the distinct-document count (segments can
    # repeat inside one doc, so a plain count window would overcount);
    # both windows share one exchange+sort on _seg. NULL segments (empty
    # docs) get a meaningless _df, exactly like the old left join's NULL —
    # the `kept` guard below already requires _seg IS NOT NULL.
    w_rank = Window.partitionBy("_seg").orderBy("_id")
    w_seg = Window.partitionBy("_seg")
    tagged = (
        exploded.withColumn("_dr", F.dense_rank().over(w_rank))
        .withColumn("_df", F.max("_dr").over(w_seg))
        .drop("_dr")
    )
    kept = F.when(
        F.col("_seg").isNotNull() & (F.col("_df") <= max_df), F.col("_seg")
    )
    return (
        tagged.groupBy("_id")
        .agg(
            F.sum(F.when(F.col("_seg").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_segments"),
            F.sum(F.when(kept.isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                kept.isNotNull(),
                                F.struct(
                                    F.col("_pos").alias("p"),
                                    kept.alias("s"),
                                ),
                            )
                        )
                    ),
                    lambda x: x["s"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
        .select(
            F.col("_id").alias(id_col), "n_segments", "n_kept", "cleaned_text"
        )
    )


def repeated_span_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Positional n-token shingles per document, distinct per (id, gram) —
    the candidate unit of SUBSTRING-level deduplication (Lee et al. 2022):
    a gram held by >= 2 distinct ids is a verbatim repeated span at some
    offset, which whole-document (q25), head-fingerprint (q194) and
    line-level (drop_boilerplate_segments) dedup all miss.

    Output: (id_col, g) where g = md5 of the space-joined n-gram. Pure
    projection (sequence + transform + slice, all codegen); the caller
    owns the group-by on g. md5 rather than xxhash64 so a SQL oracle can
    reproduce the key; at 100 TB swap to xxhash64 to shrink the shuffle.
    """
    toks = tokenize(F.col(text_col))
    # sequence(1, 0) would yield [1, 0] (negative step), so guard short docs
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                starts, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n)))
            )
        ).alias("g"),
    ).distinct()


def winnow_incremental_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    is_new_col: str,
    k: int = 8,
    w: int = 4,
    min_shared: int = 10,
) -> DataFrame:
    """Incremental near-dedup: winnowing candidate pairs where AT LEAST
    ONE side is a newly-arrived document — the daily-batch contract where
    the historical corpus is already internally deduped and re-checking
    hist×hist pairs would redo yesterday's quadratic work.

    Output: (id_a < id_b, shared_fps, pair_kind ∈ {'hist-new','new-new'}).

    Shape: the full fingerprint index joins only the NEW side's index on
    the fingerprint key — |idx| × |idx_new| candidate work instead of
    |idx|², the whole point of incremental dedup (at 100 TB the
    historical index is a saved table; here it is derived from the same
    scan, which changes the cost of building it, not the join shape).
    Pairs are canonicalized with least/greatest, so a new×new pair is
    produced from both directions — shared fingerprints are therefore
    counted DISTINCT, which is also the hist-new count since the per-doc
    index is already fingerprint-distinct.
    """
    idx = winnow_fingerprint_index(
        df.select(F.col(id_col), F.col(text_col), F.col(is_new_col)),
        id_col,
        text_col,
        k,
        w,
    ).join(df.select(F.col(id_col), F.col(is_new_col)), id_col)
    idx = query_scoped_cache(idx)
    new_idx = idx.filter(F.col(is_new_col))
    a = idx.alias("a")
    b = new_idx.alias("b")
    pairs = a.join(
        b,
        (F.col("a.fingerprint") == F.col("b.fingerprint"))
        & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        F.col("a.fingerprint").alias("_fp"),
        (F.col(f"a.{is_new_col}") & F.col(f"b.{is_new_col}")).alias("_both_new"),
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(
            F.countDistinct("_fp").cast("long").alias("shared_fps"),
            F.max("_both_new").alias("_nn"),
        )
        .filter(F.col("shared_fps") >= min_shared)
        .select(
            "id_a",
            "id_b",
            "shared_fps",
            F.when(F.col("_nn"), "new-new").otherwise("hist-new").alias("pair_kind"),
        )
    )


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_count: int = 2,
) -> DataFrame:
    """Exact repeated-substring spans: maximal character intervals in
    which EVERY ``k``-character window occurs at least ``min_count``
    times corpus-wide (other documents or elsewhere in the same one).

    This is the relational form of exact-substring training-data dedup
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better", which uses a suffix array for the same contract): any
    position lying inside a reported span starts or continues a
    verbatim-repeated substring of length ≥ ``k``, and positions outside
    spans provably do not. Deterministic and float-free, so the whole
    operator is hash-oracle-checkable.

    Plan (all linear in total characters — there is NO pairwise
    candidate join anywhere, so the SCALING.md gram-saturation failure
    mode cannot apply):

    1. one projection builds each document's k-gram array (single pass
       over the string), ``posexplode`` to (id, pos, gram) — the same
       inverted-index shape a suffix-array build shuffles;
    2. hash-aggregate gram counts, keep grams with count ≥
       ``min_count``, semi-join back on gram (equi-join; AQE handles
       boilerplate-gram skew);
    3. per-document island detection over surviving positions: with
       positions sorted ascending every window covers [pos, pos+k), so
       a span breaks exactly when ``pos > prev_pos + k`` — one lag +
       running sum window bounded by document length;
    4. one aggregation per (document, island) emits the span.

    Returns one row per span: (id, span_start, span_end, span_len),
    1-based, end-exclusive, over ``lower(text)`` (length-preserving, so
    offsets index the original text). Documents shorter than ``k`` or
    with no repeated windows yield no rows.
    """
    s = F.lower(F.col(text_col))
    n = F.length(s)
    gram_idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(gram_idx, lambda i: s.substr(i, F.lit(k)))
    idx = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.posexplode(grams).alias("_p0", "_gram")
    )
    idx = idx.select(
        F.col(id_col), (F.col("_p0") + 1).cast("long").alias("pos"), "_gram"
    )
    hot = (
        idx.groupBy("_gram")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= min_count)
        .select("_gram")
    )
    rep = idx.join(hot, "_gram", "left_semi").select(F.col(id_col), "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = rep.select(
        F.col(id_col),
        "pos",
        F.sum(
            F.when(
                F.lag("pos").over(w).isNull()
                | (F.col("pos") > F.lag("pos").over(w) + k),
                1,
            ).otherwise(0)
        )
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("_island"),
    )
    return (
        isl.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
        )
        .select(
            F.col(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


# ---------------------------------------------------------------------------
# Round 6: portable-hash minhash (fully oracle-checkable, the q28 move)
# ---------------------------------------------------------------------------

MINHASH_PORTABLE_P = 2147483647  # 2^31 - 1 (Mersenne prime)


def minhash_portable_slot_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal-hash slot family
    h_i(x) = (a_i·x + b_i) mod P — Knuth multiplicative constants, fixed
    so an independent engine can rebuild the identical family."""
    p = MINHASH_PORTABLE_P
    out = []
    for i in range(num_hashes):
        a = (2654435761 * (i + 1)) % p or 1
        b = (40503 * (i + 7) + 12345) % p
        out.append((a, b))
    return out


def minhash_near_duplicates_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """:func:`minhash_near_duplicates` with a PORTABLE hash family, so
    the ENTIRE LSH pipeline — signature mins, banding, candidate set,
    exact-Jaccard verify — is reproducible by an independent SQL engine
    and therefore hash-checkable end-to-end (the q28 simhash move
    applied to minhash; reference parity: the reference's dedup is
    content-hash only, `utils/hashing` — this exceeds it).

    Shingle universe: distinct word tokens hashed to the 60-bit md5
    prefix (the q175 convention); signature slot i takes
    MIN((a_i·(h mod P) + b_i) mod P) with P = 2³¹−1 and the fixed
    :func:`minhash_portable_slot_consts` family — every product stays
    under 2⁶² so neither engine can overflow int64. Banding and the
    first-colliding-band pair dedup reuse :func:`_band_pairs`
    unchanged: band hashes are engine-INTERNAL (a band-hash collision
    only adds a candidate the exact verify then rejects), so xxhash64
    band compaction keeps codegen speed without costing portability.
    The verify intersects the 60-bit md5 shingle sets — the same values
    the oracle computes, so J is identical on both engines by
    construction, not by collision-probability argument.

    vs q27 (xxhash64 family): md5+conv costs ~2-3× the string hashing
    of the fast path — the price of the oracle; q27 stays the
    production default, this is the hash-checked anchor of the family.

    Scale shape is q27's exactly: one spread shingle pass, one
    per-doc aggregate (map-side combinable mins + collect_set), banded
    equi-join candidates, |candidates|-bounded verify."""
    p = MINHASH_PORTABLE_P
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    shingle = _shingle_expr(text_col, False, 0)
    exploded = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(shingle).alias("_s"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10)
            .cast("long")
            .alias("_h60"),
        )
        .withColumn("_hp", F.col("_h60") % p)
    )
    aggs = [
        F.min((F.col("_hp") * F.lit(a) + F.lit(b)) % p).alias(f"_h{i}")
        for i, (a, b) in enumerate(minhash_portable_slot_consts(num_hashes))
    ]
    aggs.append(F.collect_set(F.col("_h60")).alias("_sh"))
    aggs.extend(_shingle_mask_aggs("_h60"))
    feats = query_scoped_cache(
        exploded.groupBy(id_col).agg(*aggs).withColumn("_n", F.size("_sh"))
    )
    cands = _band_pairs(feats, id_col, num_hashes, bands)
    sets = feats.select(F.col(id_col), "_sh", "_n", "_mlo", "_mhi")
    out = (
        cands.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("_sh").alias("_sha"),
                F.col("_n").alias("_na"),
                F.col("_mlo").alias("_mloa"),
                F.col("_mhi").alias("_mhia"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("_sh").alias("_shb"),
                F.col("_n").alias("_nb"),
                F.col("_mlo").alias("_mlob"),
                F.col("_mhi").alias("_mhib"),
            ),
            "id_b",
        )
    )
    # integer cross-multiplied size prefilter (t = 0.8 -> 5*min >= 4*max)
    na, nb = F.col("_na"), F.col("_nb")
    out = out.filter(
        F.least(na, nb) * 10 >= F.greatest(na, nb) * int(threshold * 10)
    )
    # 128-bit occupancy-mask bound (round 11, exactness-preserving —
    # see _mask_bound_filter; the md5 shingle hashes feed pmod the same
    # way the xxhash64 family does, so the oracle needs no change)
    out = _mask_bound_filter(out, threshold)
    inter = F.size(F.array_intersect("_sha", "_shb"))
    union = na + nb - inter
    jacc = F.when(
        union > 0, inter.cast("double") / union.cast("double")
    ).otherwise(F.lit(0.0))
    return out.select(
        "id_a", "id_b", F.round(jacc, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def minhash_contamination_portable(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bench_pred,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
) -> DataFrame:
    """ASYMMETRIC portable-minhash screen: corpus docs whose Jaccard
    similarity to ANY document satisfying ``bench_pred`` (the held-out
    benchmark set) reaches ``threshold`` — FUZZY decontamination, the
    paraphrase-robust complement of the exact 8-gram screens (q83/q247
    catch verbatim spans; a lightly-reworded eval item shares few
    8-grams but keeps a high token-Jaccard, which this catches).

    Same portable md5 construction as
    :func:`minhash_near_duplicates_portable` (60-bit shingle hashes,
    (a·x+b) mod 2³¹−1 slots), but the band join is corpus×bench instead
    of self: the bench side is benchmark-sized, so at scale it
    BROADCASTS and the corpus never shuffles — the q83 asymmetry
    argument applied to LSH. Candidates dedupe with a plain distinct
    (bounded by |bench|·|corpus hits|, cheap on the asymmetric join);
    the verify is the exact hashed-shingle-set Jaccard, so the output —
    per contaminated corpus doc, how many bench docs it matches and the
    max Jaccard — is hash-checkable end-to-end.

    Returns ``(id_col, n_bench_matches, max_jaccard)``.
    """
    p = MINHASH_PORTABLE_P
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    r = num_hashes // bands
    shingle = _shingle_expr(text_col, False, 0)
    exploded = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(shingle).alias("_s"))
        .select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col("_s")), 1, 15), 16, 10)
            .cast("long")
            .alias("_h60"),
        )
        .withColumn("_hp", F.col("_h60") % p)
    )
    aggs = [
        F.min((F.col("_hp") * F.lit(a) + F.lit(b)) % p).alias(f"_h{i}")
        for i, (a, b) in enumerate(minhash_portable_slot_consts(num_hashes))
    ]
    aggs.append(F.collect_set(F.col("_h60")).alias("_sh"))
    aggs.extend(_shingle_mask_aggs("_h60"))
    # the index feeds FOUR references (bench band, corpus band, both
    # verify sides) — uncached, the md5-shingle aggregation re-ran per
    # reference (round 11; same treatment as minhash_near_duplicates'
    # signature index, via the bounded registry)
    feats = query_scoped_cache(
        exploded.groupBy(id_col).agg(*aggs).withColumn("_n", F.size("_sh"))
    )
    bench = feats.filter(bench_pred)
    corpus = feats.filter(~bench_pred)

    def banded(side: DataFrame, tag: str) -> DataFrame:
        return side.select(
            F.col(id_col).alias(f"id_{tag}"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bi).alias("band"),
                            F.concat_ws(
                                ":",
                                *[
                                    F.col(f"_h{bi * r + j}").cast("string")
                                    for j in range(r)
                                ],
                            ).alias("key"),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("_b"),
        ).select(f"id_{tag}", "_b.band", "_b.key")
    cand = (
        banded(corpus, "a")
        .join(F.broadcast(banded(bench, "b")), ["band", "key"])
        .select("id_a", "id_b")
        .distinct()
    )
    sets = feats.select(F.col(id_col), "_sh", "_n", "_mlo", "_mhi")
    t10 = int(threshold * 10)
    sized = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("_sh").alias("_sha"),
                F.col("_n").alias("_na"),
                F.col("_mlo").alias("_mloa"),
                F.col("_mhi").alias("_mhia"),
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sets.select(
                    F.col(id_col).alias("id_b"),
                    F.col("_sh").alias("_shb"),
                    F.col("_n").alias("_nb"),
                    F.col("_mlo").alias("_mlob"),
                    F.col("_mhi").alias("_mhib"),
                )
            ),
            "id_b",
        )
        .filter(
            F.least("_na", "_nb") * 10 >= F.greatest("_na", "_nb") * t10
        )
    )
    # 128-bit occupancy-mask bound (round 11, exactness-preserving)
    sized = _mask_bound_filter(sized, threshold)
    inter = F.size(F.array_intersect("_sha", "_shb"))
    jac = F.round(
        inter.cast("double") / (F.col("_na") + F.col("_nb") - inter), 6
    )
    return (
        sized.select("id_a", "id_b", jac.alias("_j"))
        .filter(F.col("_j") >= threshold)
        .groupBy(F.col("id_a").alias(id_col))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bench_matches"),
            F.max("_j").alias("max_jaccard"),
        )
    )
