"""Physical-plan audit across the catalog — the 100 TB guardrails.

A correctness-green query can still be scale-broken: an accidental
cartesian product, a scan that reads every column, or a window chain
that shuffles per window. These tests pin the plan properties the
design relies on, so a refactor that silently degrades a plan fails CI
instead of the bench.
"""

from __future__ import annotations

import pytest

from noaa_ais_glue_lakehouse_spark.plans import catalog

SF_DIR = "/root/testdata/sf0.001"

# Deliberate O(n²) oracle anchors carry baseline_only=True in the
# registry itself; bounded non-equi joins carry allow_non_equi="<reason>"
# and plan-build-time-executing queries carry build_time_exec="<reason>"
# — ALL three allowlists are derived from the registry, so the catalog
# (next to each query) is the single source of truth and register()
# rejects a flag without a substantive reason string.
BASELINE_ONLY = catalog.baseline_only_queries()
ALLOWED_NON_EQUI = set(catalog.allow_non_equi_queries())
BUILD_TIME_EXECUTION = set(catalog.build_time_exec_queries())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_accidental_cross_products(spark):
    qs = catalog.queries()
    offenders = {}
    for name, fn in qs.items():
        if (
            name in ALLOWED_NON_EQUI
            or name in BASELINE_ONLY
            or name in BUILD_TIME_EXECUTION
        ):
            continue
        plan = _plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders[name] = True
    assert not offenders, f"non-equi join fallback in: {sorted(offenders)}"


def test_q01_scan_prunes_columns_and_pushes_filter(spark):
    plan = _plan(catalog.queries()["q01_pricing_summary"](spark, SF_DIR))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # projection reaches the scan: untouched wide columns must not be read
    assert "l_comment" not in scan and "l_shipmode" not in scan
    # the date predicate reaches the parquet reader
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters:")[1][:200]


def test_sessionize_is_single_shuffle(spark):
    # every window step shares the entity hash partitioning: exactly one
    # exchange (the reference's chain shuffled per window)
    plan = _plan(catalog.queries()["q11_sessionize"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_sample_trajectory_is_single_shuffle(spark):
    # the full Fact-1-style chain (lag + keep-flags + re-distance) keeps
    # one entity shuffle
    plan = _plan(catalog.queries()["q24_sample_trajectory"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dim_lookup_broadcasts(spark):
    plan = _plan(catalog.queries()["q39_nav_status_lookup"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_forward_fill_is_single_shuffle(spark):
    # LOCF is one window pass on the entity exchange — no self-join
    plan = _plan(catalog.queries()["q77_forward_fill"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_contamination_broadcasts_benchmark_grams(spark):
    # the benchmark gram set probes map-side; the corpus never shuffles
    # for the join
    plan = _plan(catalog.queries()["q83_benchmark_contamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_vocab_topk_avoids_global_sort(spark):
    # top-100 with tiebreak is TakeOrdered, not a full Sort + Exchange
    # rangepartitioning of the vocab
    plan = _plan(catalog.queries()["q91_vocab_top_tokens"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_tfidf_broadcasts_df_table(spark):
    # document-frequency (|vocab| rows) broadcasts; only the tf table
    # shuffles
    plan = _plan(catalog.queries()["q92_tfidf_top_terms"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_scd2_shares_entity_shuffle(spark):
    """q108: change-detection window and interval-close window both key on
    user_id; the filter between them preserves partitioning, so ONE
    exchange total."""
    plan = _plan(catalog.queries()["q108_scd2_dim"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_mixture_sample_is_single_shuffle(spark):
    """q105: md5-rank + budget filter is one class-key window pass."""
    plan = _plan(catalog.queries()["q105_mixture_sample"](spark, SF_DIR))
    # one exchange for the lang window; the final small groupBy may add an
    # AQE-coalesced agg exchange over |classes| rows — allow at most 2
    assert plan.count("Exchange hashpartitioning") <= 2


def test_rowlocal_curation_ops_never_shuffle(spark):
    """q103/q104/q106: scrubbing, quantization, and quality scoring are
    row-local projections — zero exchanges at any scale."""
    for q in ("q103_scrub_pii", "q104_quantize_embeddings", "q106_gopher_quality"):
        plan = _plan(catalog.queries()[q](spark, SF_DIR))
        assert "Exchange" not in plan, f"{q} shuffles"


def test_mode_per_group_has_no_window(spark):
    # mode via combinable min_by struct: two hash aggregations, zero
    # window passes (the oracle's row_number form would add one)
    plan = _plan(catalog.queries()["q188_mode_per_group"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan


def test_weighted_sample_is_take_ordered(spark):
    # Efraimidis-Spirakis top-k: per-partition heaps + driver merge, no
    # global sort exchange, no window
    plan = _plan(catalog.queries()["q191_weighted_sample"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Window" not in plan, plan


def test_scd2_point_in_time_is_one_exchange_one_scan_no_join(spark):
    # single-pass emit + last_value carry (round 10): the temporal lookup
    # compiles to ONE events scan, ONE user_id exchange shared by the lag
    # window and the carry window (the 0-2-row filtered explode preserves
    # the hash partitioning), and no join operator at all (the naive
    # interval join would be a BroadcastNestedLoopJoin; the round-9 union
    # form paid 2 scans + 2 exchanges)
    plan = _plan(catalog.queries()["q185_scd2_point_in_time"](spark, SF_DIR))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan


def test_bloom_probe_broadcasts_bit_set(spark):
    """q284: the Bloom bit set (bounded by m_bits, never by build rows)
    must BROADCAST into the probe — a shuffled semi-join here would
    defeat the operator's whole point."""
    plan = _plan(catalog.queries()["q284_bloom_filter_join"](spark, SF_DIR))
    assert "BroadcastExchange" in plan
    bcast_joins = [
        l for l in plan.splitlines() if "BroadcastHashJoin" in l and "bitpos" in l
    ]
    assert bcast_joins, "bitpos probe join is not broadcast"


def test_kmeans_broadcasts_centroids_and_caches_dims(spark):
    """q318: every Lloyd round joins the k*d-row centroid relation by
    BROADCAST (the side that never grows with the corpus), and the
    exploded dims relation is cached (one scan for ~6 consumers)."""
    plan = _plan(catalog.queries()["q318_kmeans_lloyd"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan


def test_zorder_key_is_codegen_projection(spark):
    """q283: the Morton key must be plain bit math inside the projection
    (shiftleft/shiftright in the plan), with the single exchange being
    the final aggregation's."""
    plan = _plan(catalog.queries()["q283_zorder_layout_audit"](spark, SF_DIR))
    assert "shiftright" in plan and "shiftleft" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_q381_window_reuses_cell_exchange(spark):
    """The round-7 q381 plan fix: the per-point ranking window must
    reuse the point-side (cy, cx) repartition instead of re-shuffling
    the ~k-per-point CANDIDATE stream — exactly ONE hash exchange in
    the whole plan (measured 4x on the decade-B wall, SCALING.md)."""
    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    df = queries()["q381_knn_adaptive_radius"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the candidate stream must NOT re-shuffle on event_id: the only
    # pre-window hash exchange is the point-side cell repartition
    # (REPARTITION_BY_COL on cy, cx); the exchanges after the rank
    # filter are the <=3-rows-per-point rollup, which may key however
    # the aggregate plans.
    import re

    assert "Exchange hashpartitioning(event_id" not in plan, plan[:4000]
    rep = re.search(
        r"Exchange hashpartitioning\(([^)]*)\), REPARTITION_BY_COL", plan
    )
    assert rep and "cy" in rep.group(1) and "cx" in rep.group(1), plan[:4000]
    win = re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert win and all(
        k in win.group(1) for k in ("cy", "cx", "event_id")
    ), win and win.group(1)


def test_ann_topk_serving_shapes_broadcast_query_side(spark):
    """q474/q475 (the hash-gated ANN serving twins): candidate
    generation must be a BROADCAST equi-join with the bounded query
    side as the build side — the 100 TB serving plan — never a
    shuffled or cartesian join."""
    for name in ("q474_lsh_topk_portable", "q475_ivf_topk_portable"):
        plan = _plan(catalog.queries()[name](spark, SF_DIR))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


_NESTED_LOOP_NODES = ("BroadcastNestedLoopJoinExec", "CartesianProductExec")

# Round-10 verdict ask #6 ("prune allow_non_equi creep"): the allowlist
# reason strings claim each nested-loop operand is a 1-row scalar or a
# dimension/k-bounded relation. This audit VALIDATES the claim instead
# of trusting it: at sf0.001 every nested-loop/cartesian node in an
# allowlisted query must have at least one operand whose row bound
# (Catalyst maxRows when static, else an executed count) is within the
# query's documented bound. The default covers 1-row scalars, literal
# spines, day rollups (~30), deciles, and polygon edges; the named
# exceptions are k-derived constants measured in the round-10 sweep —
# deliberately pinned TIGHT so a corpus-sized operand (documents=500 at
# sf0.001, growing 10x per SF decade) fails the audit the day it creeps
# in. An allowlisted query with NO nested-loop node is a stale entry
# and fails too (the tag must be removed, keeping the allowlist honest).
_NON_EQUI_DEFAULT_BOUND = 64
_NON_EQUI_OPERAND_BOUNDS = {
    # KMV sketch join: both operands are k-bounded sketch summaries
    # (k=256); measured 190 x 320 at sf0.001
    "q385_kmv_vocab_overlap": 384,
    # consistent-hash ring: the vnode relation (72 rows measured)
    "q489_consistent_hash_shards": 128,
    # ordinal-association cell grid: both operands are the <=240-row
    # (24 hour x 10 value-band) contingency table — fixed-size at any
    # corpus scale
    "q520_somers_d_gamma": 256,
    # Jonckheere band-pair enumeration: operands are the (6-hour band x
    # daily-value) cell table — 4 bands x |days| rows, calendar-bounded
    # (120 measured at sf0.001)
    "q528_jonckheere_terpstra": 512,
    # round-10 composite smoke embeds q528's cell-pair plan verbatim
    "q539_round10_shelf_smoke": 512,
}


def _walk_phys(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk_phys(node.children().apply(i))
    # Descend into cached subtrees — a bounded non-equi join hidden
    # behind an operator's .cache() must stay auditable; the string-scan
    # audit above sees the cached plan text, so the tree walk must see
    # the same nodes or the two audits contradict each other on tag
    # staleness.
    cls = node.getClass().getSimpleName()
    if cls == "InMemoryTableScanExec":
        yield from _walk_phys(node.relation().cachedPlan())
    elif cls == "AdaptiveSparkPlanExec":
        # the cached plan is AQE-wrapped and holds its real tree in
        # inputPlan, not children()
        yield from _walk_phys(node.inputPlan())


def _static_bound(child):
    """Catalyst maxRows of the operand's logical link, if derivable."""
    ll = child.logicalLink()
    if not ll.isDefined():
        return None
    mr = ll.get().maxRows()
    return mr.get() if mr.isDefined() else None


def _counted_rows(spark, child):
    """Executed row count of the operand's logical link (sf0.001 —
    operands here are rollups/sketches, cheap by construction)."""
    ll = child.logicalLink()
    if not ll.isDefined():
        return None
    jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        spark._jsparkSession, ll.get()
    )
    return jdf.count()


def test_allow_non_equi_operands_really_are_bounded(spark):
    qs = catalog.queries()
    stale, unbounded = [], []
    for name in sorted(ALLOWED_NON_EQUI):
        if name in BUILD_TIME_EXECUTION:
            continue  # plans execute at build time; pinned by own tests
        phys = qs[name](spark, SF_DIR)._jdf.queryExecution().sparkPlan()
        nodes = [
            p
            for p in _walk_phys(phys)
            if p.getClass().getSimpleName() in _NESTED_LOOP_NODES
        ]
        if not nodes:
            stale.append(name)
            continue
        bound = _NON_EQUI_OPERAND_BOUNDS.get(name, _NON_EQUI_DEFAULT_BOUND)
        for node in nodes:
            kids = [node.children().apply(i) for i in range(2)]
            static = [_static_bound(k) for k in kids]
            if any(s is not None and s <= bound for s in static):
                continue
            # no static proof — execute the operands (cheapest first)
            counted = []
            for k in kids:
                n = _counted_rows(spark, k)
                counted.append(n)
                if n is not None and n <= bound:
                    break
            if not any(n is not None and n <= bound for n in counted):
                unbounded.append(
                    f"{name}: {node.getClass().getSimpleName()} operands "
                    f"maxRows={static} counted={counted} bound={bound}"
                )
    assert not stale, (
        "stale allow_non_equi entries (no nested-loop/cartesian in the "
        f"sf0.001 plan — remove the tag): {stale}"
    )
    assert not unbounded, (
        "allow_non_equi reason not validated — no operand within the "
        "documented bound (corpus-sized relation in a nested-loop "
        "join?): " + "; ".join(unbounded)
    )


def test_multiprobe_recall_probe_join_broadcasts(spark):
    """q493: the probe relation (|queries|×7 rows) broadcasts into the
    corpus list relation; the truth grid is the only nested-loop and it
    is the documented query-side-bounded baseline."""
    plan = _plan(
        catalog.queries()["q493_ivf_multiprobe_recall"](spark, SF_DIR)
    )
    assert "BroadcastHashJoin" in plan
