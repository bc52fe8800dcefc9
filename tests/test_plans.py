"""Physical-plan regression tests: the optimizations that make these
queries scale must stay in the plan. A refactor that silently turns a
broadcast join into a sort-merge join or un-pushes a filter is a perf
bug even while results stay correct — these assertions catch it.

(The reference has no optimizer to audit — SURVEY §4; this is the
Spark-side discipline replacing it.)
"""

from __future__ import annotations

import pytest

from corral_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_amplab1_filter_pushed_and_columns_pruned(spark):
    plan = plan_of(spark, "amplab1")
    assert "(p_size" in plan and "> 25" in plan, "filter must reach the scan"
    # Scan must read only the two needed columns.
    assert "FileScan parquet [p_name" in plan
    assert "p_retailprice" not in plan


def test_regional_revenue_all_dims_broadcast(spark):
    plan = plan_of(spark, "regional_revenue")
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan, "fact table must not shuffle for dims"
    # Fact scan pruned to join key + measures.
    assert "FileScan parquet [l_suppkey" in plan


def test_shipping_priority_filters_pushed_joins_broadcast(spark):
    plan = plan_of(spark, "shipping_priority")
    assert "c_mktsegment" in plan and "BUILDING" in plan
    assert "o_orderdate" in plan and "l_shipdate" in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan, "aggregation must be map-side partial"


def test_pricing_summary_partial_agg_and_pruned_scan(spark):
    plan = plan_of(spark, "pricing_summary")
    assert "partial_sum" in plan
    # Only the 7 needed columns scanned; keys not read.
    assert "l_orderkey" not in plan and "l_partkey" not in plan


def test_window_top_orders_group_limit(spark):
    plan = plan_of(spark, "window_top_orders")
    # Spark 3.5+/4.x must pre-limit each key to 3 rows before the
    # shuffle (Partial) and after (Final) — without this the window
    # sorts every customer's full history.
    assert plan.count("WindowGroupLimit") == 2


def test_top_orders_is_take_ordered_not_global_sort(spark):
    plan = plan_of(spark, "top_orders")
    assert "TakeOrderedAndProject" in plan, "top-k must not globally sort"


@pytest.mark.parametrize(
    "name", [n for n, q in sorted(REGISTRY.items()) if "extension" not in q.tags]
)
def test_no_python_udfs_in_relational_plans(spark, name):
    # Relational queries must stay wholly JVM-side (SURVEY §7): any
    # Python round-trip operator in the plan means one snuck into the
    # hot path — not just row-at-a-time EvalPython but also the
    # Arrow-batched map/group variants (queries that use those by
    # design carry the 'extension' tag and are excluded above).
    plan = plan_of(spark, name)
    for marker in ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker


@pytest.mark.parametrize(
    "name",
    [
        "events_in_promo_windows",
        "daily_revenue_gapfill",
        "customer_running_totals",
        "orders_merge_upsert",
        "fuzzy_customer_pairs",
        "click_purchase_within_1h",
    ],
)
def test_round2_queries_never_nested_loop(spark, name):
    # Range joins, fuzzy joins, and interval self-joins are the
    # classic accidental-cross-join shapes; the bucket/variant
    # decompositions must keep them equi-joins at any scale.
    # (tfidf_top_terms is exempt: its ONLY nested-loop is the
    # deliberate one-row broadcast of the corpus-count scalar —
    # constant-size at any SF — asserted separately below.)
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_only_nested_loop_is_scalar_broadcast(spark):
    plan = plan_of(spark, "tfidf_top_terms")
    assert "CartesianProduct" not in plan
    # Exactly one BNLJ: the broadcast single-row n_docs scalar.
    assert plan.count("BroadcastNestedLoopJoin") == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    # Engine posture (session.RUNTIME_FILTER_CONF): a selective filter
    # on one join side must inject a bloom filter on the fact side.
    # The application-side size gate (10 GB default — correct at
    # scale) is lowered only inside this test so sf0.01 qualifies.
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_returnflag")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, "bloom filter must reach the fact scan side"
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partitions(spark):
    # Engine posture: AQE skew-join (session.ENGINE_CONF) replaces
    # manual salting for runtime-detected skew. Thresholds are lowered
    # only inside this test so a synthetic 300k-row hot key qualifies
    # as skewed at test scale.
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        hot = spark.range(300_000).select(
            F.lit(0).alias("k"), F.col("id").alias("v")
        )
        cold = spark.range(9_900).select(
            (F.col("id") % 99 + 1).alias("k"), F.col("id").alias("v")
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = hot.union(cold).join(right, "k")
        # collect() (not count()) so THIS frame's adaptive plan is the
        # one that finalizes — count() executes a separate agg plan.
        assert len(j.collect()) == 309_900
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE must split the hot partition"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    ["fuzzy_customer_pairs_lev2", "segment_dedup_docs"],
)
def test_round4_pairwise_queries_never_nested_loop(spark, name):
    # Depth-2 deletion blocking and segment dedup are the round-4
    # accidental-cross-join shapes: both must stay variant/segment
    # equi-joins + windows at any scale.
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quality_score_is_single_scan_projection(spark):
    # The logistic quality model must stay a scan-side expression:
    # no Python evaluation, one parquet scan, and the ONLY exchange is
    # the final deterministic ORDER BY (rangepartitioning) — scoring
    # itself must not introduce a hash shuffle.
    plan = plan_of(spark, "quality_score_docs")
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan, (
        "model scoring must not shuffle beyond the output sort"
    )
    for marker in ("EvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, marker
    assert plan.count("FileScan parquet") == 1


def test_ann_ivf_probes_broadcasts_centroids_and_queries(spark):
    # The IVF probe path may nested-loop ONLY against broadcast-sized
    # sides (8 centroids, 5 queries); the corpus itself must never be
    # the build side of a cross join.
    plan = plan_of(spark, "ann_ivf_probes")
    assert "CartesianProduct" not in plan
    # Probed-cell scoring is an equi-join on the cell id.
    assert "cell" in plan


def test_temperature_sample_rates_broadcast(spark):
    # The per-group rate table must broadcast onto the corpus scan —
    # a sort-merge join here would shuffle the whole corpus for a
    # group-cardinality-sized build side.
    plan = plan_of(spark, "temperature_sampled_docs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_hot_set_broadcast_anti(spark):
    # The hot-segment set (the Zipf head) must be the broadcast build
    # side of a LeftAnti join; the exploded corpus side never shuffles
    # for the filter.
    plan = plan_of(spark, "boilerplate_removed_docs")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_gram_dedup_no_window_no_cartesian(spark):
    # Sliding-gram substring dedup must stay bounded aggregates and
    # equi-joins: no corpus-wide Window (the first-occurrence rank is
    # a partial-aggregated min-struct, not a sort), no cross join, and
    # the gram-frequency side must never be a broadcast hint (it is
    # vocabulary-sized and grows with the corpus).
    plan = plan_of(spark, "gram_dedup_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan.replace("WindowGroupLimit", "")


@pytest.mark.parametrize(
    "name, exchanges, barriers",
    [
        ("gram_dedup_docs", 4, 1),
        ("boilerplate_removed_docs", 4, 2),
        ("segment_dedup_docs", 4, 1),
    ],
)
def test_text_hygiene_exchange_and_barrier_counts(
    spark, monkeypatch, name, exchanges, barriers
):
    # Structural budget of the text-hygiene operators: executed-plan
    # Exchange count (shuffles plus the boilerplate hot-set broadcast)
    # and materialize barriers (the words base, plus the hot set). A
    # count is host-independent, so any rise is a plan change, never
    # noise.
    import corral_spark.operators.dedup as d

    calls = []
    real = d.materialize

    def counting(df, eager=True):
        calls.append(eager)
        return real(df, eager=eager)

    monkeypatch.setattr(d, "materialize", counting)
    plan = plan_of(spark, name)
    assert plan.count("Exchange") == exchanges, plan
    assert len(calls) == barriers


def test_source_cap_window_group_limit(spark):
    # The per-domain cap must push the rank bound below the exchange:
    # a hot domain moves O(cap * tasks) rows, never its full row set.
    plan = plan_of(spark, "source_capped_docs")
    assert "WindowGroupLimit" in plan


def test_bottomk_build_exchange_bounded_by_local_pass(spark):
    # The bottom-k build must NEVER exchange the full distinct key
    # set (that is the exact-count-distinct shuffle the sketch exists
    # to avoid). The local Arrow pass keeps <= k rows per group per
    # partition, so every Exchange in the plan sits ABOVE the
    # MapInPandas node (treeString prints root-first, leaves last:
    # nothing after the MapInPandas line may be an Exchange).
    from corral_spark.operators.sketches import bottomk_sketch
    from corral_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select("doc_id", "n_chars")
    sk = bottomk_sketch(docs, "doc_id", k=256, keep_cols=("n_chars",))
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    leafward = plan[plan.index("MapInPandas"):]
    assert "Exchange" not in leafward, "exchange below the local bottom-k"


def test_bottomk_grouped_build_exchange_bounded_too(spark):
    # Same bound as the ungrouped pin, for the grouped path: the
    # local Arrow pass keeps <= k rows per (group, partition), so no
    # Exchange may sit below the MapInPandas node.
    from corral_spark.operators.sketches import bottomk_sketch
    from corral_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    sk = bottomk_sketch(
        docs, "doc_id", k=64, group_cols=("lang",), keep_cols=("n_chars",)
    )
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "Exchange" not in plan[plan.index("MapInPandas"):]


def test_aqe_skew_join_splits_hot_partition(spark):
    # Engine posture for skewed keys WITHOUT manual salting: AQE must
    # detect a hot join partition at runtime and split it
    # (isSkew=true in the final SMJ). Thresholds are lowered only
    # inside this test so sf0.01's synthetic skew qualifies — at real
    # scale the defaults (256 MB) express the same plan. The manual
    # salting path is covered by salted_nation_revenue; this pins the
    # zero-code-change alternative.
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        # One hot key carrying most rows on both sides of a join.
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 5_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            (F.col("id") * 2).alias("w"),
        )
        j = left.join(right, "k").groupBy().count()
        j.collect()  # AQE decides skew at RUNTIME — must execute
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in plan or "skew=true" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_weighted_sample_no_data_shuffle(spark):
    # Importance-weighted sampling is one scalar max broadcast over
    # the scan plus a projection filter: the only joins allowed are
    # the single-row broadcast (BNLJ), and the only Exchange on the
    # data path is the query's output ORDER BY (rangepartitioning) —
    # never a hash shuffle of the corpus.
    plan = plan_of(spark, "weighted_sampled_docs")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_cross_corpus_near_dups_no_all_pairs(spark):
    # The two-corpus near-dup check must stay banded equi-joins:
    # no cartesian/nested-loop between the corpora — |A| x |B| is the
    # plan this operator exists to avoid.
    plan = plan_of(spark, "cross_corpus_near_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_merged_slices_single_scan(spark):
    # r6 verdict item 5: the per-slice sketch row must not scan the
    # fact table once per slice. The grouped register build (slice
    # column in the group key) reads lineitem exactly ONCE...
    from pyspark.sql import functions as F

    from corral_spark.operators.sketches import hll_registers
    from corral_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem").filter(
        F.col("l_linestatus").isin("O", "F")
    )
    regs = hll_registers(li, "l_partkey", ("l_returnflag", "l_linestatus"))
    build_plan = regs._jdf.queryExecution().executedPlan().toString()
    assert build_plan.count("FileScan") == 1
    # ...and the full query consumes ONLY the materialized register
    # file: its own plan contains no file scan at all, so total scans
    # at runtime = the one inside the register build.
    full = plan_of(spark, "hll_merged_slices")
    assert "FileScan" not in full


def test_bloom_registers_branch_no_single_row_broadcast(spark):
    # bloom_new_docs_registers (m=2^28 > BLOOM_DENSE_MAX_BITS) must
    # route through the distributed register file: the dense branch's
    # fingerprint is a one-row filter crossJoined into the scan (a
    # BroadcastNestedLoopJoin); its absence — plus no cartesian —
    # proves the probe is the word-index equi-join, which has no
    # broadcast ceiling to hit at 10^9-key sizings.
    plan = plan_of(spark, "bloom_new_docs_registers")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_domain_mix_rates_broadcast_no_corpus_shuffle(spark):
    # Target-share mixing is one per-group weight-sum (group-
    # cardinality rows) BROADCAST back onto the scan plus a projection
    # filter. The corpus data path must never sort-merge or
    # nested-loop; the only hash exchanges are the two tiny
    # aggregations (per-group totals in, 5-row summary out).
    plan = plan_of(spark, "domain_mix_docs")
    assert plan.count("BroadcastHashJoin") == 1
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_emb_int8_topk_queries_broadcast(spark):
    # int8 brute-force search: the 5-row query set broadcasts (one
    # BroadcastNestedLoopJoin over the corpus scan — the intended
    # embarrassingly-parallel shape); the only hash exchange is the
    # per-query window. A SortMergeJoin or corpus-side repartition
    # here would mean the scan stopped being a single pass.
    plan = plan_of(spark, "emb_int8_topk")
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1


def test_semantic_dedup_pair_join_is_equi(spark):
    # SemDeDup's within-cell pair generation must stay a hash
    # equi-join on the cell id — a cartesian/nested-loop between
    # corpus copies is exactly the O(n^2) scan the cell pruning
    # exists to avoid.
    plan = plan_of(spark, "semantic_dedup_docs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_price_histogram_one_scan_partial_agg(spark):
    # The histogram sketch's whole point is ONE pass: a single pruned
    # scan (flag + price only) into a partial-aggregated bin count —
    # no sort, no second scan, no window over raw rows (the window
    # runs over <= 256 bins/group post-aggregation).
    plan = plan_of(spark, "price_histogram_quantiles")
    assert plan.count("FileScan") == 1
    assert "l_extendedprice:double,l_returnflag:string" in plan  # pruned scan
    assert "l_orderkey" not in plan  # column pruning held
    assert "partial_count" in plan


def test_price_outliers_scalar_joins_broadcast(spark):
    # The median/MAD per-group scalars (3 rows) join back onto the
    # rows twice; both must stay broadcast — a sort-merge join here
    # would shuffle the fact table three times at 100 TB.
    plan = plan_of(spark, "price_outliers_mad")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_event_funnel_filters_pushed_no_cartesian(spark):
    # Each stage filters event_type at the scan (pushdown) and joins
    # on user_id (equi, broadcast of the prior stage's small
    # aggregate); the three stage counts union post-agg.
    plan = plan_of(spark, "event_funnel_stages")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # The event_type equality must reach every events scan's
    # DataFilters (no full-stream scan feeds a stage).
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    typed = [ln for ln in scans if "event_type" in ln]
    assert typed and all("isnotnull(event_type" in ln for ln in typed)


def test_part_bfs_edge_build_is_equi_join(spark):
    # The co-order edge list is an equi-join on l_orderkey; a
    # cartesian here would be |lineitem|^2 at any scale.
    from pyspark.sql import functions as F

    from corral_spark.sources.tables import load_table

    li = load_table(spark, SF, "lineitem")
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    plan = edges._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hll_overlap_register_build_single_scan(spark):
    # Both sides' register files come from ONE grouped scan of
    # documents (side flag in the group key) — the single-scan
    # discipline hll_merged_slices settled on in round 7.
    from pyspark.sql import functions as F

    from corral_spark.functions.text import tokenize
    from corral_spark.operators.sketches import hll_registers
    from corral_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    toks = docs.select(
        F.when(F.col("source") == "src0", "a").otherwise("b").alias("side"),
        F.explode(tokenize(F.col("text"))).alias("tok"),
    )
    regs = hll_registers(toks, "tok", ("side",))
    plan = regs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1


def test_pq_topk_all_joins_broadcast(spark):
    # PQ's scale contract: codebooks and query LUTs broadcast; the
    # score join moves integer codes only. A sort-merge or cartesian
    # here would shuffle the encoded corpus against every query.
    plan = plan_of(spark, "pq_ann_topk")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_lookup_no_nested_loop(spark):
    # The time-travel join must be the key equi-join with the interval
    # test as a residual condition — never a cartesian/BNLJ.
    plan = plan_of(spark, "purchase_by_tier_scd2")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppjoin_no_cartesian(spark):
    # Prefix filtering exists to keep the candidate join an equi-join
    # on (rare) prefix tokens; any nested loop here means the filter
    # stopped gating the pair space.
    plan = plan_of(spark, "ppjoin_neighbor_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skyline_no_cartesian_and_broadcast_back_join(spark):
    # The whole point of the sort-based 2-D skyline is replacing the
    # NOT-EXISTS quadratic join (which the ORACLE deliberately keeps)
    # with window + equi-join: the plan must contain no nested loop,
    # and the frontier join back onto the table must broadcast the
    # (tiny) frontier.
    plan = plan_of(spark, "skyline_parts")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_pagerank_rounds_are_equi_joins(spark, monkeypatch):
    # Each PageRank round is rank-vector ⋈ edges on the node id plus
    # a partially-aggregated groupBy; a nested loop anywhere means a
    # join key was lost and the round went quadratic. The per-round
    # materialize barrier truncates lineage (the real plan would show
    # only ExistingRDD), so pin the plan with materialize disabled —
    # same logical rounds, full tree visible.
    import corral_spark.operators.graph as g

    monkeypatch.setattr(g, "materialize", lambda df, eager=False: df)
    monkeypatch.setattr(
        g, "iter_barrier", lambda df, with_count=False: (df, -1) if with_count else df
    )
    plan = plan_of(spark, "part_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan


def test_ivm_delta_preaggregates_before_combine(spark):
    # apply_agg_delta's contract: the shuffle carries one row per
    # TOUCHED group (map-side combine on the delta), then a single
    # combine join with the snapshot — the base table is never
    # rescanned, so exactly two scans of orders (snapshot build +
    # delta build… the registry row derives both from the same
    # parquet) may appear, but no third.
    plan = plan_of(spark, "orders_rollup_ivm")
    assert "partial_count" in plan or "partial_sum" in plan
    assert "CartesianProduct" not in plan


def test_minmax_refresh_semi_and_anti_join(spark):
    # refresh_affected_groups must prune the base scan with a
    # semi-join on the touched keys and carry untouched groups via an
    # anti-join — both as hash joins, never nested loops.
    plan = plan_of(spark, "orders_minmax_refresh")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_variant_join_is_shuffled_hash(spark, monkeypatch):
    # The r10 fix: the variant self-join must stay a shuffled hash
    # join — sort-merge re-scans each duplicate-key group
    # quadratically under hot variant keys (zero-run deletions),
    # ablated at 32.4s vs 5.1s on identical keys at sf0.1. The exact
    # path also joins on the xxhash64 of the variant (8-byte key).
    # r16: the variant index is checkpointed (built once, not once
    # per self-join side), which hides the explode and the xxhash64
    # projection behind the barrier in the executed registry plan —
    # pin the operator plan with materialize disabled instead (the
    # ppjoin/pagerank pattern below).
    import corral_spark.operators.fuzzy as fz
    from corral_spark.sources.tables import load_table

    monkeypatch.setattr(fz, "materialize", lambda df, eager=False: df)
    out = fz.fuzzy_join(
        load_table(spark, SF, "customer"), "c_name", "c_custkey", max_dist=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan
    assert "xxhash64" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ppjoin_expansion_has_no_wide_rows(spark, monkeypatch):
    # The r10 rewrite: group membership is an (id, gid) relation —
    # no collect_list anywhere in the pair path (a giant duplicate
    # class must never assemble one wide array row), and the
    # within-group self-join is shuffled-hash (its per-key product
    # IS the output). The operator's materialize barriers truncate
    # lineage in the registry query's executed plan, so pin the
    # operator plan with materialize disabled (the pagerank pattern).
    import corral_spark.operators.dedup as d
    from corral_spark.sources.tables import load_table

    monkeypatch.setattr(d, "materialize", lambda df, eager=False: df)
    out = d.prefix_filter_jaccard_pairs(
        load_table(spark, SF, "documents"), "text", "doc_id", 0.9
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # r16: the ONE allowed collect_list is the verification-side
    # dense-id array rebuild, keyed by gid over that group's DISTINCT
    # tokens — bounded by document length (same width as the group's
    # own toks array), not by duplicate-class size. The pair/expansion
    # path must still never assemble a wide row: every other
    # collect_list is a regression.
    import re

    stray = [
        m
        for m in re.findall(r"collect_list\((\w+)", plan)
        if not m.startswith("tid")
    ]
    assert stray == [], f"non-tid collect_list in pair path: {stray}"
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fuzzy_capped_path_keeps_string_variant_key(spark):
    # Contract twin of the exact-path pin above: with cap_per_block
    # (or max_block) set, the candidate set IS the oracle contract
    # ("pairs sharing a SURVIVING variant key"), so the join must
    # stay on the variant STRING — an xxhash64 collision there could
    # resurrect a capped-away qualifying pair, which exact
    # levenshtein verification cannot repair. The hint is still
    # allowed (strategy is perf-only); the KEY is the contract.
    plan = plan_of(spark, "fuzzy_customer_pairs_capped")
    assert "xxhash64" not in plan
    assert "CartesianProduct" not in plan


# Queries whose plan legitimately contains BroadcastNestedLoopJoin —
# every one verified (r13 audit) to be BuildRight over a BOUNDED
# broadcast side: a single-row keyless aggregate (global total / max /
# corpus doc count joined onto every row: the scalar-subquery shape)
# or, for the ANN family, the bounded query-vector set that the
# brute-force baseline contract broadcasts BY DESIGN against the
# embedding corpus. Broadcasting O(1)-or-bounded rows is sound at any
# scale; what this lint forbids is an UNBOUNDED nested-loop side.
_BNLJ_BOUNDED_BROADCAST = {
    "ann_cosine_topk",
    "ann_ivf_kmeans",
    "ann_ivf_probes",
    "ann_ivf_topk",
    "bigram_logprob_docs",
    "bloom_new_docs",
    "bm25_top_docs",
    "bottomk_doc_stats",
    # rrf_hybrid_docs inherits bm25's one-row corpus-stats broadcast
    # (the shared bm25_scored frame) — same audited bounded shape.
    "rrf_hybrid_docs",
    "emb_int8_topk",
    "heavy_hitter_tokens",
    "hll_token_overlap_sources",
    "hygiene_filtered_docs",
    "lang_sampling_weights",
    "nations_above_global_share",
    "part_pairs_lift",
    "temperature_sampled_docs",
    "tfidf_top_terms",
    "unigram_logprob_docs",
    "weighted_sampled_docs",
}


def test_registry_wide_plan_lint(spark):
    """Standing lint over EVERY registry query's physical plan — the
    per-query pins above guard the queries someone thought to pin;
    this guards the ones nobody did (r13). Three structural
    properties that are scale-independent (no stats change can
    manufacture an equi-key, and the Python-boundary policy is
    architectural):

    * CartesianProduct never appears (a lost join key gone quadratic);
    * BatchEvalPython never appears (row-at-a-time Python UDF — the
      policy is expressions or Arrow only, SCALE.md);
    * BroadcastNestedLoopJoin appears exactly in the audited
      bounded-broadcast allowlist above, and only as BuildRight — a
      BuildLeft flip would broadcast the UNBOUNDED side (executor OOM
      at scale). Set equality keeps the allowlist honest: a query
      that stops needing its BNLJ must leave the list.

    sf0.001 keeps the sweep cheap; the asserted properties do not
    depend on data volume.
    """
    sf = "/root/testdata/sf0.001"
    seen_bnlj = set()
    for name, q in sorted(REGISTRY.items()):
        plan = q.spark(spark, sf)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert "BroadcastNestedLoopJoin BuildLeft" not in plan, name
        if "BroadcastNestedLoopJoin" in plan:
            seen_bnlj.add(name)
        spark.catalog.clearCache()
    assert seen_bnlj == _BNLJ_BOUNDED_BROADCAST, (
        f"unexpected: {sorted(seen_bnlj - _BNLJ_BOUNDED_BROADCAST)}; "
        f"stale allowlist: {sorted(_BNLJ_BOUNDED_BROADCAST - seen_bnlj)}"
    )
