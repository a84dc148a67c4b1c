"""Plan-shape regression tests: the properties documented in
docs/SCALE.md asserted mechanically."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kawa_spark import registry
from kawa_spark.io import table
from kawa_spark.plans.audit import audit_plan, shuffle_count

registry.load_all()

SF = "/root/testdata/sf0.001"


@pytest.mark.parametrize(
    "key",
    [
        "agg_hash_groupby",
        "tpch_q6_forecast_revenue",
        "tpch_q3_shipping_priority",
        "join_inner_hash",
        "sort_limit_topk",
        "window_rank",
        "dedup_exact",
        "corpus_bigrams",
        "text_chunking",
        "percentile_disc",
    ],
)
def test_headline_plans_clean(spark, key):
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_q6_filters_pushed_and_pruned(spark):
    df = registry.QUERIES["tpch_q6_forecast_revenue"](spark, SF)
    assert (
        audit_plan(df, expect_pushed_filters=True, max_scan_columns=4) == []
    )


def test_q1_single_shuffle(spark):
    """Q1 = partial agg + one exchange (+ AQE bookkeeping at most)."""
    df = registry.QUERIES["agg_hash_groupby"](spark, SF)
    assert shuffle_count(df) <= 1, shuffle_count(df)


def test_star_join_broadcasts_dims(spark):
    df = registry.QUERIES["join_inner_hash"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3


def test_audit_catches_cartesian(spark):
    a = table(spark, SF, "region")
    b = table(spark, SF, "nation")
    cross = a.crossJoin(b)
    warnings = audit_plan(cross)
    assert any("Cartesian" in w or "NestedLoop" in w for w in warnings) or (
        "BroadcastNestedLoopJoin"
        in cross._jdf.queryExecution().executedPlan().toString()
    )


def test_join_strategy_hints(spark):
    """The engine surfaces Spark's join-strategy controls: hints
    override the planner's choice (the escape hatch when statistics
    mislead at scale)."""
    c = table(spark, SF, "customer")
    o = table(spark, SF, "orders")
    plan_of = lambda df: df._jdf.queryExecution().executedPlan().toString()

    merged = o.join(c.hint("merge"), o["o_custkey"] == c["c_custkey"])
    assert "SortMergeJoin" in plan_of(merged)

    shuffled = o.join(c.hint("shuffle_hash"), o["o_custkey"] == c["c_custkey"])
    assert "ShuffledHashJoin" in plan_of(shuffled)

    bcast = o.join(c.hint("broadcast"), o["o_custkey"] == c["c_custkey"])
    assert "BroadcastHashJoin" in plan_of(bcast)


def test_unknown_table_error(spark):
    import pytest as _pytest

    from kawa_spark.io import table as t

    with _pytest.raises(KeyError, match="unknown table"):
        t(spark, SF, "nope")


def test_audit_catches_row_udf(spark):
    from pyspark.sql.types import LongType

    slow = F.udf(lambda x: x + 1, LongType())
    df = table(spark, SF, "orders").select(slow(F.col("o_orderkey")))
    assert any("BatchEvalPython" in w for w in audit_plan(df))


@pytest.mark.parametrize(
    "key",
    [
        "quality_repetition",
        "quality_gopher_filter",
        "corpus_length_filter",
        "tpch_q5_local_supplier",
        "tpch_q14_promo_revenue",
        "tpch_q18_large_volume",
        # dedup_minhash moved to the r15 lazy-twin audit below: its
        # registered form now checkpoints, which collapses the plan
        # to Scan ExistingRDD and made this pin vacuous
        "corpus_pack_sequences",
        "embedding_centroids",
        "kmeans_lloyd",
        "tpch_q1_pricing_summary",
        "tpch_q2_best_supplier",
        "tpch_q4_priority_check",
        "tpch_q7_volume_shipping",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q11_important_stock",
        "tpch_q12_late_lines",
        "tpch_q13_customer_distribution",
        "tpch_q15_top_supplier",
        "tpch_q16_supplier_relationship",
        "tpch_q17_small_quantity",
        "tpch_q19_discounted_revenue",
        "tpch_q20_part_promotion",
        "tpch_q21_waiting_supplier",
        "tpch_q22_global_sales",
    ],
)
def test_r2_plans_clean(spark, key):
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_gopher_filter_is_map_only(spark):
    """Pure column expressions: one scan, zero exchanges."""
    df = registry.QUERIES["quality_gopher_filter"](spark, SF)
    assert shuffle_count(df) == 0, shuffle_count(df)


def test_quantize_is_map_only(spark):
    """embedding_quantize is the zero-shuffle storage pass: scan →
    column expressions → out. Any Exchange here is a regression."""
    df = registry.QUERIES["embedding_quantize"](spark, SF)
    assert shuffle_count(df) == 0, shuffle_count(df)


def test_spread_is_gated_on_partition_count(spark):
    """spread() exists to fix the single-file small-SF scan; at
    production partition counts it must be an identity — an
    unconditional repartition would be a full-table Exchange before
    map-only work at 100 TB (VERDICT r3 'What's wrong #4')."""
    from kawa_spark.io import spread

    target = spark.sparkContext.defaultParallelism
    # ample partitions → identity, no Exchange added
    wide = spark.range(10_000).repartition(max(2, target))
    assert spread(wide) is wide
    assert spread(wide, "id") is wide
    # starved scan → spread to defaultParallelism
    narrow = spark.range(10_000).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == target


def test_q5_broadcasts_all_dims(spark):
    """customer/supplier/nation/region all broadcast; the only
    shuffled join is lineitem⋈orders."""
    df = registry.QUERIES["tpch_q5_local_supplier"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4, plan.count("BroadcastHashJoin")


def test_minhash_selfjoin_is_narrow(spark):
    """The band self-join must not carry shingle/signature arrays:
    no exchange row wider than (doc_id, band_id, band_hash)."""
    from kawa_spark.queries import llm_dedup as m

    df = registry.QUERIES["dedup_minhash"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the pair-producing SMJ keys on (band_id, band_hash); assert the
    # vh/mhs arrays are absent from every exchange feeding it
    import re

    for ex in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        if "band_hash" in ex:
            assert "vh" not in ex and "mhs" not in ex and "shingles" not in ex


def test_tpch_q1_single_shuffle(spark):
    """Q1 is scan → partial agg → one exchange → final agg."""
    df = registry.QUERIES["tpch_q1_pricing_summary"](spark, SF)
    assert shuffle_count(df) <= 1, shuffle_count(df)


def test_q7_broadcasts_nation_twice(spark):
    df = registry.QUERIES["tpch_q7_volume_shipping"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4, plan.count("BroadcastHashJoin")


def test_q19_part_filter_pushed(spark):
    """The factored brand/size disjunction must reach the part scan."""
    df = registry.QUERIES["tpch_q19_discounted_revenue"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re as _re
    scans = _re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("Or(" in s or "In(" in s for s in scans), scans


def test_ivf_kmeans_search_is_broadcast_only(spark):
    """The trained-IVF search path must never shuffle the corpus on
    the K-value cell id (8 distinct keys = hot-key shuffle): both the
    centroid assignment and the probe→candidate join broadcast their
    small side, and the plan is clean of the generic antipatterns."""
    df = registry.QUERIES["similarity_ivf_kmeans"](spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # every join is broadcast — no shuffled join anywhere (the only
    # cid-keyed exchange allowed is the training mean's K×DIM-row agg)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_ivf_sampled_centroid_budget_pinned(spark):
    """The sampled-quantizer IVF path must keep its FIXED centroid
    budget: without the ``.limit(IVF_MAX_CELLS)`` after the 1/53 id
    sample, centroid count — and with it the broadcast size and the
    per-vector argmin cost — grows with the corpus (measured 8.4× at
    the 10× probe before the cap, 1.2× after). Pin the physical plan:
    the centroid side compiles to TakeOrderedAndProject with exactly
    the budget as its limit."""
    from kawa_spark.queries.llm_similarity import IVF_MAX_CELLS

    df = registry.QUERIES["similarity_ivf"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert f"limit={IVF_MAX_CELLS}" in plan, plan


def test_ivf_sampled_assign_is_vectorized_map_stage(spark):
    """The sampled-IVF cell assignment must stay the single Arrow
    map stage (r15 optimization round): a row_number window there
    shuffles the full N×K broadcast-join output (embedding arrays
    riding along — measured 448× wall at the 100× probe before the
    r6 fix), and the r6–r14 exploded struct-min aggregate planned as
    a SortAggregate that materialized and SORTED all N×K candidate
    rows with an interpreted HOF fold per pair (measured 179.7 s /
    108× at the 10× probe). The plan may contain exactly the two
    query-side windows (probe selection and final rank, both
    partitioned by q_id — |Q| is fixed); a third window means the
    assignment regressed to the window shape, a SortAggregate means
    it regressed to the exploded aggregate."""
    import re

    df = registry.QUERIES["similarity_ivf"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # exactly two Window operators (WindowGroupLimit pushdown nodes
    # for the same two windows are fine — they BOUND the sorts)
    assert len(re.findall(r"\bWindow \[", plan)) == 2, plan
    # every window is q_id-partitioned; none on the corpus vector id
    for spec in re.findall(r"windowspecdefinition\((\w+)", plan):
        assert spec.startswith("q_id"), spec
    # the assignment is the vectorized Arrow map pass — present, and
    # exactly one (a second corpus-wide Python stage means a probe
    # path started paying the boundary too)
    assert plan.count("MapInArrow") == 1, plan
    # no exploded-argmin residue anywhere
    assert "SortAggregate" not in plan, plan


@pytest.mark.parametrize(
    "key",
    [
        "corpus_shuffle_deterministic",
        "corpus_domain_stats",
        "events_funnel",
        "quality_lm_commonness",
    ],
)
def test_r7_plans_clean(spark, key):
    """Round-7 keys pass the mechanical scale audit (no cartesian, no
    row-at-a-time Python UDF)."""
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_shuffle_det_has_no_global_sort_window(spark):
    """corpus_shuffle_deterministic's whole point: the global order
    comes from per-shard ranks + a 256-row offset table, NEVER a
    row_number window over a single partition of the corpus. The only
    SinglePartition exchange allowed is the one under the 256-row
    aggregated offsets branch (input to it must be an aggregate, not
    the corpus scan)."""
    import re as _re

    df = registry.QUERIES["corpus_shuffle_deterministic"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # a single-partition exchange feeding a Window over raw scan rows
    # would read "Exchange SinglePartition ... +- FileScan" with no
    # intervening HashAggregate; assert every SinglePartition sits
    # above an aggregate (the shard-count table)
    for m in _re.finditer(r"Exchange SinglePartition[^\n]*\n(.*?)(?=\n\s*$|\Z)",
                          plan, _re.S):
        below = m.group(1)[:400]
        assert "HashAggregate" in below, plan


def test_passthrough_observe_count_single_materialization(spark):
    """stream_passthrough's delivered-count must come from the
    in-plan Observation of the ONE noop materialization (VERDICT r6
    item 8): a second action (.count()/collect over the pipeline)
    would re-execute the whole 1M-row flow and double the bench-gate
    query's cost. Pinned two ways: exactly one Spark job runs during
    the call, and the returned DataFrame is a literal projection over
    range(1) — no rescan of the source."""
    sc = spark.sparkContext
    sc.setJobGroup("pt_pin", "passthrough single-materialization pin")
    try:
        df = registry.QUERIES["stream_passthrough"](spark, SF)
    finally:
        sc.setJobGroup("pt_pin_done", "")
    jobs = sc.statusTracker().getJobIdsForGroup("pt_pin")
    assert len(jobs) == 1, f"expected 1 job (the noop write), got {jobs}"
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "1000000 AS delivered" in plan  # literal from the Observation
    assert "Range (0, 1," in plan  # 1-row carrier, not the pipeline


@pytest.mark.parametrize(
    "key",
    [
        "events_rate_limit",
        "events_heavy_hitters",
        "logs_pattern_templates",
        "events_dedup_adjacent",
        "events_markov_transitions",
        "logs_template_drift",
    ],
)
def test_r8_plans_clean(spark, key):
    """Round-8 keys pass the mechanical scale audit (no cartesian, no
    row-at-a-time Python UDF)."""
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_heavy_hitters_rank_pushdown(spark):
    """events_heavy_hitters' rank-≤-K filter must stay a
    WindowGroupLimit on BOTH sides of the window's shuffle (Partial +
    Final) — that's what keeps each map task forwarding only its local
    top-K per type instead of shipping a 10⁹-user partition to one
    sorter. The docstring's scale claim, asserted mechanically."""
    df = registry.QUERIES["events_heavy_hitters"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_rate_limit_single_exchange(spark):
    """events_rate_limit is ONE shuffle on user_id: scan → exchange →
    sort → window → project, nothing else."""
    df = registry.QUERIES["events_rate_limit"](spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_dedup_adjacent_single_exchange(spark):
    """events_dedup_adjacent: one user_id shuffle feeding the lag
    window; the survival filter is a per-row predicate above it."""
    df = registry.QUERIES["events_dedup_adjacent"](spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_pattern_templates_no_python_udf(spark):
    """The masking chain must be JVM regexp_replace inside codegen —
    a Python UDF here would put every log line through Arrow."""
    df = registry.QUERIES["logs_pattern_templates"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "regexp_replace" in plan


@pytest.mark.parametrize(
    "key",
    [
        "logs_cidr_enrich",
        "events_funnel_daily_conversion",
        "events_session_rarity",
        "ts_resample_ffill_clamped",
    ],
)
def test_r9_plans_clean(spark, key):
    """Round-9 keys pass the mechanical scale audit."""
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_cidr_enrich_no_per_event_shuffle(spark):
    """logs_cidr_enrich's LPM must stay map-side: the CIDR plan rides
    in as a broadcast 1-row array and the argmax is a higher-order
    array_max per row, so the ONLY exchanges are the |nets|-key
    rollup (incl. the count-distinct expand) — never a per-event
    hashpartitioning. The r9 rewrite replaced a BNLJ + groupBy(event)
    plan that shuffled the full event stream; this pins it out."""
    import re

    df = registry.QUERIES["logs_cidr_enrich"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    for k in keys:
        assert "event_id" not in k and k.startswith("net"), keys
    assert "array_max" in plan and "BatchEvalPython" not in plan


def test_session_rarity_reuses_user_partitioning(spark):
    """events_session_rarity's three user-keyed stages (sessionize
    window, in-session lead, per-session aggregate) must share ONE
    user_id partitioning — the (user_id, session_idx) window and
    aggregate are satisfied by the user_id hash partitioning (subset
    rule), so no exchange may be keyed on session_idx."""
    import re

    df = registry.QUERIES["events_session_rarity"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys
    for k in keys:
        assert "session_idx" not in k, keys
    # model joins ride in as broadcasts, not shuffled joins
    assert "SortMergeJoin" not in plan, plan


def test_resample_clamped_engages_guard(spark):
    """The registered clamped key must carry the GREATEST clamp in
    its plan (the max_span_hours guard engaged, not the unclamped
    twin's bounds)."""
    df = registry.QUERIES["ts_resample_ffill_clamped"](spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "greatest" in plan.lower(), plan


@pytest.mark.parametrize(
    "key",
    ["events_beaconing", "events_first_seen", "events_impossible_travel"],
)
def test_r9_security_plans_clean(spark, key):
    """Late-round-9 security keys pass the mechanical scale audit."""
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_beaconing_single_exchange(spark):
    """events_beaconing is ONE shuffle on (user_id, event_type): the
    lag window and the gap-stats aggregate share the same keys, so
    Catalyst must satisfy both from a single hash partitioning — the
    docstring's scale claim, asserted mechanically."""
    df = registry.QUERIES["events_beaconing"](spark, SF)
    assert shuffle_count(df) == 1, shuffle_count(df)


def test_first_seen_pair_shuffle_leads(spark):
    """events_first_seen's only full-stream exchange is the
    (user_id, event_type) pair MIN; the day rollup and cumulative
    window re-shuffle only the pair inventory. Pin: no exchange wider
    than the pair keys, and the raw-stream exchange carries partial
    MIN (map-side combine) beneath it."""
    import re

    df = registry.QUERIES["events_first_seen"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(keys) == 3, keys
    assert "partial_min" in plan or "partial" in plan.lower(), plan


def test_impossible_travel_lpm_stays_mapside(spark):
    """events_impossible_travel: the longest-prefix match must ride in
    as a broadcast/array expression, never a per-event join shuffle —
    the only exchange touching raw events is the user_id lag window
    (the events_dedup_adjacent shape); the hop rollup shuffles only
    surviving hops on net keys."""
    import re

    df = registry.QUERIES["events_impossible_travel"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys
    for k in keys:
        assert "event_id" not in k, keys
    assert any(k.startswith("user_id") for k in keys), keys
    assert "SortMergeJoin" not in plan, plan


def test_kmv_sliding_reuses_distinct_exchange(spark):
    """agg_kmv_sliding_window's (day, user) distinct must compute
    ONCE and be shared by the sketch and audit branches (runtime AQE
    exchange reuse — the no-persist discipline from ADVICE r8). The
    reuse only materializes in the adaptive plan after execution, so
    run first; audit cleanliness is checked pre-run."""
    df = registry.QUERIES["agg_kmv_sliding_window"](spark, SF)
    assert audit_plan(df) == []
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 1, plan


def test_kmv_family_never_caches(spark):
    """The KMV keys' branches share work via plan reuse / optimizer
    collapse, NOT persist() — pin that the registry-sweep cache leak
    (ADVICE r8 class) cannot silently return in any of the three,
    and that agg_kmv_distinct's branches genuinely reuse the distinct
    exchange (post-execution: AQE reuse is a runtime decision)."""
    for key in ["agg_kmv_distinct", "agg_kmv_union", "agg_kmv_sliding_window"]:
        df = registry.QUERIES[key](spark, SF)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryRelation" not in plan, key
        assert "InMemoryTableScan" not in plan, key
        if key == "agg_kmv_distinct":
            assert plan.count("ReusedExchange") >= 1, plan


def test_mad_daily_agg_reused_across_branches(spark):
    """events_anomaly_mad's full-stream daily aggregate feeds three
    branches (median rank, dev join, final select) — it must compute
    ONCE and be shared via runtime AQE exchange reuse, not persist()
    (the ADVICE r8 cache-leak class) and not three re-aggregations of
    the stream. Reuse only materializes post-execution."""
    df = registry.QUERIES["events_anomaly_mad"](spark, SF)
    assert audit_plan(df) == []
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 2, plan
    assert "InMemoryRelation" not in plan
    # both model joins are broadcast (|types| rows), never SMJ
    assert "SortMergeJoin" not in plan


def test_dga_char_math_has_no_python_udf_and_one_rollup_key(spark):
    """logs_dga_score's per-character statistics must stay JVM
    expression-tree work (higher-order functions, no Python UDF), and
    every exchange must be keyed on the domain rollup — the string
    math runs on aggregated rows only, so no exchange may carry
    event_id."""
    df = registry.QUERIES["logs_dga_score"](spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "event_id" not in line, line


@pytest.mark.parametrize(
    "key", ["events_password_spray", "logs_typosquat"]
)
def test_r9_spray_typo_plans_clean(spark, key):
    """The spray/typosquat keys pass the mechanical scale audit
    (typosquat's BroadcastNestedLoopJoin has a build side — the
    broadcast whitelist — which the auditor accepts)."""
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_password_spray_no_event_exchange(spark):
    """events_password_spray's LPM must stay map-side (the
    logs_cidr_enrich discipline): every exchange is keyed on the
    (net, hour) rollup — incl. the count-distinct expand's
    (net, hour, user) level — and never on event_id; the plan array
    rides in as a broadcast higher-order argmax."""
    import re

    df = registry.QUERIES["events_password_spray"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys, plan
    for k in keys:
        assert "event_id" not in k and k.startswith("net"), keys
    assert "array_max" in plan and "BatchEvalPython" not in plan


def test_typosquat_is_broadcast_loop_after_rollup(spark):
    """logs_typosquat's fuzzy metric join must (a) run as a
    BroadcastNestedLoopJoin with the whitelist as the build side —
    never a CartesianProduct, never a shuffled join — and (b) sit
    ABOVE the per-domain rollup: no exchange may carry event_id, so
    the O(|domains| x |whitelist|) distance work runs on aggregated
    rows, not the event stream."""
    import re

    df = registry.QUERIES["logs_typosquat"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    for k in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "event_id" not in k, k


def test_session_paths_single_user_exchange_and_takeordered(spark):
    """events_session_paths: sessionize + the two leads share ONE
    user_id partitioning (no exchange keyed on session_idx), the path
    rollup is the only other full exchange family, and the top-K cut
    is a TakeOrdered over aggregated rows — never a global Sort
    exchange of the stream."""
    import re

    df = registry.QUERIES["events_session_paths"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys
    for k in keys:
        assert "session_idx" not in k, keys
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_vocab_coverage_window_input_is_bounded(spark):
    """corpus_vocab_coverage (r12 rewrite, VERDICT r11 item 5): the
    top-VOCAB_TOP cut is a TakeOrderedAndProject that feeds the
    rank/cumsum Window — the window's input is ≤ VOCAB_TOP rows by
    construction, never the full distinct-word count table, and no
    global Sort exchange of the counts exists."""
    df = registry.QUERIES["corpus_vocab_coverage"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" in plan, plan
    # parents print above children: the Window must sit ABOVE the
    # TakeOrdered cut (i.e. consume its bounded output)
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_cms_freq_broadcasts_sketch_and_width(spark):
    """agg_cms_freq: the d x w cell table and the 1-row relative
    width ride in as broadcasts (no SortMergeJoin, no
    CartesianProduct); the only hash exchanges are the cell rollup
    and the per-key exact count."""
    df = registry.QUERIES["agg_cms_freq"](spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_lateral_movement_one_user_exchange_no_smj(spark):
    """events_lateral_movement: the CIDR match is the broadcast
    map-side LPM (no SortMergeJoin, no exchange carrying event_id),
    and ONE user_id exchange serves BOTH lag windows — the chain lag
    re-sorts within the hop lag's partitioning instead of
    re-shuffling (the docstring's scale claim, asserted
    mechanically)."""
    import re

    df = registry.QUERIES["events_lateral_movement"](spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert keys
    for k in keys:
        assert "event_id" not in k, keys
    user_exchanges = [k for k in keys if k.startswith("user_id")]
    assert len(user_exchanges) == 1, keys


def test_dow_association_marginals_reuse_cell_exchange(spark):
    """events_dow_association: ONE full-stream shuffle (the
    (type, dow) cell rollup); all three marginals are aggregates OF
    THE CELLS whose subplans AQE collapses onto that exchange
    (ReusedExchange — the no-persist discipline), and they ride back
    as broadcasts (no SortMergeJoin)."""
    df = registry.QUERIES["events_dow_association"](spark, SF)
    assert audit_plan(df) == []
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("ReusedExchange") >= 2, plan


def test_quantile_sketch_bottom_k_is_window_group_limit(spark):
    """agg_quantile_sketch: the bottom-K sample's rn <= K filter must
    plan as WindowGroupLimit on BOTH shuffle sides (the heavy_hitters
    recognition) — map tasks forward only their local bottom-K per
    group, so the full stream never rides the sample exchange; the
    audit join broadcasts the |types|-row estimates (no SMJ)."""
    df = registry.QUERIES["agg_quantile_sketch"](spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastExchange" in plan, plan


# ---------------------------------------------------------------------------
# r13 registrations: the two wide ANN keys + incremental embedding dedup
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "key",
    [
        "similarity_lsh_multiprobe_wide",
        "similarity_ivf_kmeans_wide",
    ],
)
def test_r13_plans_clean(spark, key):
    """Round-13 registrations pass the mechanical scale audit.
    dedup_incremental_embedding is audited separately
    (test_incremental_embedding_bucket_window_is_sig_keyed)."""
    df = registry.QUERIES[key](spark, SF)
    assert audit_plan(df) == []


def test_wide_ivf_search_is_broadcast_only(spark):
    """The wide-probe trained IVF inherits the nprobe=2 pin: no join
    anywhere in the search may shuffle the corpus on the K-value cell
    id — centroids broadcast for assignment, probes broadcast for
    candidate selection — so widening nprobe moves MORE data through
    the SAME broadcast shape, never into a hot-key shuffle."""
    df = registry.QUERIES["similarity_ivf_kmeans_wide"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_incremental_embedding_bucket_window_is_sig_keyed(spark):
    """dedup_incremental_embedding: the combined-population cap must
    be a window PARTITIONED BY sig (bounded group sizes by the cap's
    own eviction), never a global window; and the new×prior pairing
    is an equi-join on sig — no cartesian anywhere. Audited through
    the key's lazy tree (_lazy_tree: an eager checkpoint collapses
    the executed plan to a Scan ExistingRDD and would make every
    assertion here vacuous)."""
    import re

    df = _lazy_tree(spark, "dedup_incremental_embedding")
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # EVERY window spec in the plan must partition by sig: the first
    # argument of windowspecdefinition is the leading partition
    # column (an unpartitioned window's first argument would be its
    # order column / frame instead — code review r13 replaced an
    # always-true disjunction here)
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs, plan
    assert all(s == "sig" for s in specs), specs
    # and the lazy tree must stay ROW-identical to the registered
    # binding, so the audited plan is the executed semantics
    lazy = sorted(tuple(r) for r in df.collect())
    reg = sorted(
        tuple(r)
        for r in registry.QUERIES["dedup_incremental_embedding"](
            spark, SF
        ).collect()
    )
    assert lazy == reg and reg


def test_udtf_lateral_is_arrow_not_row_udtf(spark):
    """udtf_lateral (r13 in-window change): the UDTF must run
    ARROW-optimized — the last registered plan carrying a
    row-at-a-time BatchEvalPython node; with useArrow=True the whole
    195-key surface passes the mechanical scale audit warning-free."""
    df = registry.QUERIES["udtf_lateral"](spark, SF)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPython" not in plan, plan


# ---------------------------------------------------------------------------
# The self-join keys that reuse a frame: each registered binding either
# returns its lazy tree or wraps it in plans.materialize.materialize
# (reused frames cached, the bounded result checkpointed eagerly, the
# caches released). Plan audits read the lazy tree — an eager
# checkpoint collapses the executed plan to a Scan ExistingRDD.
# ---------------------------------------------------------------------------


def _lazy_tree(spark, key: str):
    """``key``'s lazy tree: the registered binding, with its module's
    ``materialize`` bound to the identity while it builds — for a
    materialized key that is the core it wraps, for a lazy key the
    binding itself."""
    import sys

    fn = registry.QUERIES[key]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            sys.modules[fn.__module__],
            "materialize",
            lambda out, *reused: out,
            raising=False,
        )
        return fn(spark, SF)


def _assert_lazy_plan_clean(spark, key: str, binding: str) -> None:
    """(a) ``key``'s lazy tree passes the mechanical scale audit with
    no cartesian, and (b) it stays ROW-identical to the registered
    binding (``module.function``), so the audited plan is the executed
    semantics."""
    fn = registry.QUERIES[key]
    assert f"{fn.__module__.rsplit('.', 1)[1]}.{fn.__name__}" == binding
    df = _lazy_tree(spark, key)
    assert audit_plan(df) == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    lazy = sorted(tuple(r) for r in df.collect())
    reg = sorted(tuple(r) for r in fn(spark, SF).collect())
    assert lazy == reg and reg


@pytest.mark.parametrize(
    "key,binding",
    [
        ("dedup_ngram_jaccard", "llm_dedup.dedup_ngram_jaccard"),
        ("dedup_simhash", "llm_dedup.dedup_simhash"),
        ("dedup_embedding_cosine", "llm_similarity.dedup_embedding_cosine"),
    ],
)
def test_r14_checkpointing_keys_lazy_plans_clean(spark, key, binding):
    _assert_lazy_plan_clean(spark, key, binding)


def test_r14_checkpointing_keys_release_their_caches(spark):
    """The whole point of VERDICT r13 item 3: after a registered
    checkpointing builder returns, no CORPUS-SIZED ``persist()``
    cache remains — a registry sweep must not accumulate cached
    partitions (and bench reps must re-pay the cold plan, keeping
    the recorded minima honest). The only storage a builder may
    leave behind is its bounded localCheckpoint block (pair-sized,
    GC-cleaned with the returned frame) — every residual RDD's call
    site must therefore read ``localCheckpoint``, never ``persist``
    (the leaked form's call site)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    for key in ("dedup_ngram_jaccard", "dedup_simhash",
                "dedup_embedding_cosine"):
        registry.QUERIES[key](spark, SF)
        m = sc._jsc.getPersistentRDDs()
        residues = [str(m[rid].toString()) for rid in set(m.keys()) - before]
        assert all("localCheckpoint" in r for r in residues), (key, residues)
        # at most the one bounded checkpoint block per invocation
        assert len(residues) <= 1, (key, residues)
        before = set(m.keys())


@pytest.mark.parametrize(
    "key,binding",
    [
        ("dedup_minhash", "llm_dedup.dedup_minhash"),
        ("dedup_incremental_minhash", "llm_dedup.dedup_incremental_minhash"),
        (
            "dedup_incremental_image",
            "llm_multimodal.dedup_incremental_image",
        ),
    ],
)
def test_r15_checkpointing_keys_lazy_plans_clean(spark, key, binding):
    _assert_lazy_plan_clean(spark, key, binding)


def test_r15_checkpointing_keys_release_their_caches(spark):
    """VERDICT r14 item 2's acceptance pin: after each registered
    r15 checkpointing builder returns, no ``persist()`` cache remains
    — the minhash signature/band cores (llm_dedup.py) and the image
    keys' hash/band caches must be released in the builders'
    finallys. The only storage a builder may leave behind is its
    bounded localCheckpoint block (pair-sized, GC-cleaned with the
    returned frame)."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    for key in (
        "dedup_minhash",
        "dedup_incremental_minhash",
        "dedup_incremental_image",
        "multimodal_image_dedup_near",
        "embedding_pq_codes",
    ):
        registry.QUERIES[key](spark, SF)
        m = sc._jsc.getPersistentRDDs()
        residues = [str(m[rid].toString()) for rid in set(m.keys()) - before]
        assert all("localCheckpoint" in r for r in residues), (key, residues)
        # at most the one bounded checkpoint block per invocation
        # (embedding_pq_codes is map-only: zero)
        assert len(residues) <= 1, (key, residues)
        before = set(m.keys())


# ---------------------------------------------------------------------------
# r15 (VERDICT r14 item 5): the build must read each corpus input
# once. A materialized key's RETURNED plan is audit-blinded (Scan
# ExistingRDD), but the checkpoint JOB itself executes the real plan
# — a localCheckpoint spy captures it. In that plan, every printed
# `Scan parquet` inside an InMemoryRelation rendering is the cached
# plan's echo (built once); a scan OUTSIDE any InMemoryRelation is a
# genuine extra disk read of the corpus. Pin: zero such scans. A lazy
# key's final adaptive plan must read each input once, the second
# self-join side through a ReusedExchange.
# ---------------------------------------------------------------------------


def _raw_scans_outside_cache(jnode, out: list[str]) -> None:
    """Walk an executed SparkPlan (JVM node), collecting FileSourceScan
    nodes reachable WITHOUT crossing an InMemoryTableScan — i.e. disk
    reads the job performs beyond its cache builds. Descends through
    AQE wrappers and query-stage leaves (both are LeafExecNode, so a
    plain children() walk would see nothing); stops at
    InMemoryTableScan because its cached relation executes once, on
    first touch, regardless of how many consumers reference it.
    String-parsing toString() instead is WRONG here: nested
    InMemoryRelation renderings re-print their cached plans (with
    reset indentation), so scan-line counts overcount by the number
    of cache references."""
    name = jnode.getClass().getSimpleName()
    if "InMemoryTableScan" in name or "ReusedExchange" in name:
        return
    if "FileSourceScan" in name:
        out.append(str(jnode.simpleString(100)))
        return
    if "AdaptiveSparkPlan" in name:
        _raw_scans_outside_cache(jnode.executedPlan(), out)
        return
    if "QueryStage" in name:
        _raw_scans_outside_cache(jnode.plan(), out)
        return
    it = jnode.children().iterator()
    while it.hasNext():
        _raw_scans_outside_cache(it.next(), out)


# Raw corpus reads of one self-join side of each lazy key:
# dedup_embedding_cosine's corpus unions the table with two reads of
# its planted seeds.
_LAZY_SCANS = {
    "dedup_simhash": 1,
    "dedup_embedding_cosine": 3,
    "dedup_incremental_image": 1,
}


@pytest.mark.parametrize(
    "key",
    [
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "dedup_embedding_cosine",
        "dedup_minhash",
        "dedup_incremental_minhash",
        "dedup_incremental_image",
    ],
)
def test_checkpoint_job_reads_each_corpus_input_once(
    spark, key, monkeypatch
):
    """A materialized key's checkpoint job reads the corpus only to
    build the cached input frames: both self-join sides (and the
    verify leg) consume InMemoryTableScan, never a second raw parquet
    scan of documents/embeddings. A lazy key's executed plan scans
    each input once."""
    from pyspark.sql.classic.dataframe import DataFrame as _CDF

    fn = registry.QUERIES[key]
    if "materialize" not in fn.__code__.co_names:
        df = fn(spark, SF)
        df.collect()  # AQE shows ReusedExchange in the final plan only
        raw: list[str] = []
        _raw_scans_outside_cache(df._jdf.queryExecution().executedPlan(), raw)
        # the second self-join side reads through a ReusedExchange;
        # without reuse each count doubles
        assert len(raw) == _LAZY_SCANS[key], (key, raw)
        return
    orig = _CDF.localCheckpoint
    captured: list[str] = []

    def spy(self, eager=True):
        out = orig(self, eager=eager)
        captured.append(self._jdf.queryExecution().executedPlan())
        return out

    monkeypatch.setattr(_CDF, "localCheckpoint", spy)
    registry.QUERIES[key](spark, SF)
    assert captured, f"{key} no longer checkpoints — update this pin"
    for jplan in captured:
        raw: list[str] = []
        _raw_scans_outside_cache(jplan, raw)
        assert raw == [], (key, raw)
        # non-vacuous: the cached inputs actually appear in the plan
        assert "InMemoryTableScan" in jplan.toString(), key


@pytest.mark.parametrize(
    "key,binding",
    [
        ("quality_lm_commonness", "llm_quality.quality_lm_commonness"),
        ("similarity_containment", "llm_corpus.similarity_containment"),
        ("dedup_lsh_recall", "llm_dedup.dedup_lsh_recall"),
    ],
)
def test_r15_opt_checkpointing_keys_lazy_plans_clean(spark, key, binding):
    _assert_lazy_plan_clean(spark, key, binding)


def test_r15_opt_checkpointing_keys_release_their_caches(spark):
    """After each builder returns, no ``persist()`` cache remains —
    at most the one bounded localCheckpoint block of a materialized
    key. Twin #19 is included: its prior-sig cache sits under the
    band cache and is released with it."""
    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    for key, max_blocks in (
        ("quality_lm_commonness", 1),
        ("similarity_containment", 1),
        ("dedup_lsh_recall", 1),
        ("stream_exec_dedup_incremental_minhash", 1),
    ):
        registry.QUERIES[key](spark, SF)
        m = sc._jsc.getPersistentRDDs()
        residues = [str(m[rid].toString()) for rid in set(m.keys()) - before]
        assert all("localCheckpoint" in r for r in residues), (key, residues)
        assert len(residues) <= max_blocks, (key, residues)
        before = set(m.keys())
