"""Physical-plan shape regression tests: the scale properties the
engine promises (no all-pairs joins, pruned scans, broadcast dims)
asserted against the actual optimized plans, so they cannot silently
regress."""

from __future__ import annotations

import pytest

from alternating_least_squares_spark import registry
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = registry.queries()[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    [
        "s01_lsh_topk",
        "s02_embedding_near_dup",
        "s05_pca_topk",
        "d03_minhash_near_dup",
    ],
)
def test_candidate_generation_is_never_all_pairs(spark, monkeypatch, name):
    """LSH/MinHash candidate joins must be bucket equi-joins — a
    cartesian/nested-loop corpus×corpus join would be quadratic. The
    LSH searches are forced onto their Spark path: below the vector
    gate they run on the driver and their plan holds no join."""
    from alternating_least_squares_spark.functions import similarity

    monkeypatch.setattr(similarity, "MAX_DRIVER_VECTORS", 0)
    plan = _plan(spark, name)
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, name
    assert "CartesianProduct" not in plan, name
    assert "BroadcastNestedLoopJoin" not in plan, name


def test_projection_reaches_the_scan(spark):
    """c03 selects 3 of part's 6 columns; the parquet ReadSchema must
    contain only those (column pruning reached the reader)."""
    plan = _plan(spark, "c03_projection")
    assert "p_partkey" in plan and "p_retailprice" in plan
    assert "p_brand" not in plan and "p_type" not in plan


def test_filter_pushdown_reaches_the_scan(spark):
    """c02's non-zero filter must appear as a pushed parquet filter,
    not only as a post-scan Filter node."""
    plan = _plan(spark, "c02_filter_nonzero")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate (not an empty list)
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), plan


def test_dimension_joins_broadcast(spark):
    """h02 joins lineitem against orders/customer/nation dims — every
    join should be broadcast-hash (no shuffled sort-merge join of a
    dim at this scale), driven by AQE/size estimation, not hints."""
    plan = _plan(spark, "h02_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_promo_revenue_broadcasts_part_dim(spark):
    """h06's part join must be broadcast-hash — shuffling lineitem to
    co-locate with a dimension 1000× smaller would be a scale bug."""
    plan = _plan(spark, "h06_promo_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exists_plans_as_semi_join(spark):
    """h07's EXISTS must be a single semi join (LeftSemi), with the
    non-equi date conjunct as a join residual — not a cartesian
    product and not a full inner join + distinct."""
    plan = _plan(spark, "h07_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_topk_uses_take_ordered(spark):
    """h03's ORDER BY + LIMIT must plan as TakeOrderedAndProject —
    a global Sort of all groups would be a scale bug."""
    plan = _plan(spark, "h03_shipping_priority")
    assert "TakeOrderedAndProject" in plan


def test_volume_shipping_no_cartesian(spark):
    """h08's two nation-resolving chains hang off the same fact row —
    a planner that turned the pair filter into a cross of the chains
    would be quadratic. All dims must stay broadcast-hash."""
    plan = _plan(spark, "h08_volume_shipping")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_order_distribution_keeps_left_join(spark):
    """h11 must keep zero-order customers: the priority filter lives
    inside the LEFT OUTER join, so the plan must contain LeftOuter
    (an inner rewrite would drop the zeros)."""
    plan = _plan(spark, "h11_order_distribution")
    assert "LeftOuter" in plan


def test_disjunctive_filter_broadcasts_part(spark):
    """h12's OR-of-conjunctions references both join sides, so it can
    only be a join residual — but the part side must still broadcast
    and nothing may degenerate into a nested-loop join."""
    plan = _plan(spark, "h12_disjunctive_revenue")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_has_no_exchange_or_sort(spark):
    """x09 joins two tables bucketed+sorted on the join key: the whole
    point is that the SortMergeJoin runs WITHOUT an Exchange (and
    without re-sorting) on either side. An Exchange under the join
    means bucketing metadata was lost and the co-location guarantee
    silently regressed. (The final single-partition agg may exchange —
    only the subtree under the join is checked.)"""
    # at test scale the dim side is broadcastable, which would hide
    # the property — force the shuffle-join path the way a fact-fact
    # join at 100 TB would take it
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.queries()["x09_bucketed_join"](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    # everything below the join (both scan subtrees) must be
    # exchange-free; the agg above it may shuffle
    assert "Exchange" not in join_part, join_part
    assert "Bucketed: true" in plan


def test_spread_gate_is_noop_on_wide_input(spark):
    """The dedup/LSH narrow-pass spread must not touch an input that
    is already as wide as the cluster: an unconditional repartition
    would be a full shuffle of document text at 100 TB (and would
    coalesce a wider scan DOWN). Wide → the very same DataFrame object
    (no plan change); narrow → repartitioned to cluster width."""
    from alternating_least_squares_spark.functions.width import (
        spread_if_narrow,
    )

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 1000, 1, numPartitions=par).withColumnRenamed(
        "id", "doc_id"
    )
    assert spread_if_narrow(wide, "doc_id") is wide
    narrow = spark.range(0, 1000, 1, numPartitions=1).withColumnRenamed(
        "id", "doc_id"
    )
    spread = spread_if_narrow(narrow, "doc_id")
    assert spread is not narrow
    assert spread.rdd.getNumPartitions() == par


def test_salted_agg_is_two_phase(spark):
    """x08 must contain TWO hash-aggregate levels over the salt then
    the key — a single-phase rewrite would reintroduce the hot-key
    reducer the operator exists to avoid."""
    plan = _plan(spark, "x08_salted_agg")
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 phases


def test_salted_join_spreads_the_shuffle_key(spark):
    """x12 under forced shuffle-join (how a too-big-to-broadcast
    lookup side behaves at 100 TB): the sort-merge join must key on
    (l_orderkey, _salt) — the salt IN the shuffle key is the whole
    point; without it a hot order key lands on one reducer."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = registry.queries()["x12_salted_join"](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    join_line = plan.split("SortMergeJoin", 1)[1].split("\n", 1)[0]
    assert "_salt" in join_line, join_line


def test_scd2_history_build_is_one_exchange(spark):
    """c16's three window passes (dedupe, collapse, interval close)
    all cluster on o_custkey: the explicit repartition satisfies every
    downstream distribution via the subset rule, so the whole history
    build must plan exactly ONE exchange — a second exchange means the
    windows stopped sharing the partitioning."""
    plan = _plan(spark, "c16_scd2")
    assert plan.count("Exchange") == 1, plan


def test_ohlc_bars_single_exchange(spark):
    """e08's two windows and the final agg share (event_type, hour)
    clustering: one exchange, then sorts + partial/final agg. A
    per-window exchange would triple the shuffle at 100 TB."""
    plan = _plan(spark, "e08_ohlc_bars")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_pq_candidate_scoring_never_all_pairs(spark):
    """s06's ADC scan must ride the probe equi-join (as IVF-Flat) —
    no cartesian/nested-loop ANYWHERE: centroids are inlined literals
    (assign/probe are narrow expressions, not joins), so even the
    centroid table join s03 carries is gone here."""
    plan = _plan(spark, "s06_pq_topk")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_line_dedup_broadcasts_common_sentences(spark):
    """t20's keep-flag join must broadcast the (tiny) common-sentence
    set — shuffling the full sentence stream to mark boilerplate would
    be a second corpus-sized exchange at 100 TB."""
    df = registry.queries()["t20_line_dedup"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_exact_corr_is_one_aggregation_pass(spark):
    """g08's five moment sums ride ONE partial+final aggregation over
    one lineitem scan — a second scan or join would mean the moments
    were split across passes."""
    df = registry.queries()["g08_exact_corr"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1
    assert "Join" not in plan


def test_lm_scorers_broadcast_the_model(spark):
    """t18/t19: the LM rides a broadcast join back onto the token /
    bigram stream; if it ever shuffles the stream against the model
    the scoring pass doubles its exchanges."""
    for name in ("t18_unigram_logprob", "t19_bigram_logprob"):
        df = registry.queries()[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_span_entries_broadcast_the_repeated_set(spark):
    """t21/t23: the repeated-window membership returns via a broadcast
    join on the 16-byte hash pair — shuffling the full window stream
    to mark repeats would add a corpus-sized exchange; and nothing in
    either plan is a cartesian."""
    for name in ("t21_repeated_spans", "t23_span_scrub"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "Cartesian" not in plan, name


def test_bpe_pairs_shuffles_words_once(spark):
    """t22: the corpus-sized shuffle is the word groupBy (one
    exchange); the pair explode + pair agg + top-50 window all run
    over vocab-sized data. Two corpus-sized exchanges would mean the
    pair explode leaked onto the token stream."""
    plan = _plan(spark, "t22_bpe_merge_pairs")
    # word agg + pair agg + rank window = 3 hash exchanges max; the
    # load-bearing assertion is that pair rows aggregate AFTER the
    # word count (vocab-sized), which the explode-over-aggregate
    # structure guarantees; no join should appear at all
    assert "Join" not in plan, plan


def test_training_shuffle_has_single_shard_exchange(spark):
    """x16: ONE hash exchange (the shard partition) and a per-shard
    sort — a global row_number would show a SinglePartition exchange,
    the scale bug this entry exists to avoid."""
    plan = _plan(spark, "x16_training_shuffle")
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_dsir_broadcasts_the_weight_table(spark):
    """x17: the vocab-sized weight table broadcasts back onto the
    token stream (t18's shape, two LMs in one count)."""
    plan = _plan(spark, "x17_dsir_weights")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan


def test_triangle_adjacency_joins_broadcast(spark):
    """gr03's two adjacency attachments plan as broadcast hash joins
    while the size gate holds (|E| ≤ BROADCAST_EDGE_LIMIT — true at
    every local SF): the rows between them carry a neighbor array
    each, and a sort-merge fallback shuffles |E|·√(2|E|) longs
    (measured 22 s vs 6 s at sf0.1 depending on which strategy AQE
    picked — operators/graph.py documents the gate as load-bearing)."""
    plan = _plan(spark, "gr03_triangles")
    assert plan.count("BroadcastHashJoin") >= 2, plan[:3000]
    assert "array_intersect" in plan, plan[:3000]
    # the arrays must never ride a sort for a merge join
    assert "SortMergeJoin" not in plan.split("array_intersect")[0], (
        plan[:3000]
    )


def test_triangle_scale_path_never_sorts_the_arrays(spark, monkeypatch):
    """gr03 beyond the broadcast gate (VERDICT r8: the unconditional
    broadcast OOMs at 10⁸+ vertices): both adjacency probes must plan
    as SHUFFLED hash joins — hash-partition exchanges only, no
    broadcast of the |V|-row adjacency and NO SortMergeJoin anywhere
    above the adjacency scan, because a sort buffers the
    array-carrying per-edge rows."""
    from alternating_least_squares_spark.operators import graph
    from alternating_least_squares_spark.operators.graph import (
        triangle_counts,
    )

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a < b],
        "a long, b long",
    )
    # a zero size gate puts the plan beyond the broadcast gate
    monkeypatch.setattr(graph, "BROADCAST_EDGE_LIMIT", 0)
    plan = triangle_counts(
        edges
    )._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan[:3000]
    assert "BroadcastHashJoin" not in plan, plan[:3000]
    assert plan.count("ShuffledHashJoin") >= 2, plan[:3000]
    assert "array_intersect" in plan, plan[:3000]


def test_sql_udfs_are_inlined_into_codegen(spark):
    """sql03: declarative SQL UDFs (one composed of the other, used
    in WHERE and in the aggregate) must be INLINED by Catalyst — the
    executed plan carries plain arithmetic inside WholeStageCodegen,
    with no UDF evaluation boundary and no Python worker."""
    plan = _plan(spark, "sql03_sql_udf")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "SQLFunction",
                   "Invoke"):
        assert marker not in plan, f"{marker} in plan:\n{plan[:2000]}"
    # the composed body reached the FILTER as plain arithmetic (the
    # plan mentions columns and literals, never the UDF names) and
    # the aggregate consumes the composed expression directly
    assert "_sql03_disc" not in plan and "_sql03_charge" not in plan
    assert "* (1.0 - l_discount" in plan  # inlined WHERE body
    assert "HashAggregate" in plan and "partial_sum" in plan


def test_lateral_topk_decorrelates_to_window_group_limit(spark):
    """sql04: the correlated LATERAL LIMIT subquery must decorrelate
    into WindowGroupLimit (map-side per-key top-k before the shuffle)
    joined on the equi-key — never a nested-loop re-execution per
    outer row."""
    plan = _plan(spark, "sql04_lateral_topk")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pinned_recommend_spreads_items_before_fanout(spark):
    """m06's scale guard (the round-12 AQE lesson): the small item
    factor table must carry an explicit round-robin exchange BEFORE
    the broadcast cross join — AQE coalesces the tiny distinct to ONE
    partition, and without the spread the |users|-fold fan-out's
    per-partition top-k prune sorts every pair single-threaded
    (measured 24 s vs 3 s at sf0.1)."""
    plan = _plan(spark, "m06_pinned_recommend")
    assert "RoundRobinPartitioning" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan  # the intended bounded cross
    # the prune must still run map-side before the user-key exchange
    assert plan.count("WindowGroupLimit") >= 2, plan[:2000]


def test_interval_coalesce_single_exchange(spark):
    """e19's whole sweep — island detection, numbering, fold, idle
    lag — must ride ONE user-keyed exchange (the window-subset rule;
    a second shuffle would mean the groupBy key lost its user_id
    prefix)."""
    plan = _plan(spark, "e19_interval_coalesce")
    assert plan.count("Exchange") == 1, plan[:2000]


def test_shared_pivot_compiles_to_keyed_partial_aggregates(spark):
    """sql05: Catalyst's canonical SQL-PIVOT plan is two keyed
    aggregations — partial_sum on (status, flag), then pivotfirst on
    status — BOTH map-side combined, so each exchange carries rows
    bounded by group-key cardinality, never data volume. No
    expand-join shapes, no Python, and the scan reads only the three
    referenced columns."""
    plan = _plan(spark, "sql05_shared_pivot")
    assert plan.count("Exchange") == 2, plan[:2000]
    assert "partial_sum" in plan and "partial_pivotfirst" in plan
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "BatchEvalPython"):
        assert marker not in plan
    assert "l_quantity:double,l_returnflag:string,l_linestatus:string" \
        in plan  # column pruning reached the parquet scan


def test_shared_unpivot_expands_after_the_aggregate(spark):
    """sql06: Catalyst's SQL-UNPIVOT plan is Expand OVER the one
    map-side-combined aggregate — the 3x row multiplication happens
    AFTER the groupBy, so the only exchange carries rows bounded by
    |linestatus|, never 3x the data. No joins, no Python, and the
    scan reads only the three referenced columns."""
    plan = _plan(spark, "sql06_shared_unpivot")
    assert plan.count("Exchange") == 1, plan[:2000]
    assert "partial_sum" in plan and "Expand" in plan
    # Expand sits above HashAggregate, not above the scan
    assert plan.index("Expand") < plan.index("HashAggregate"), plan[:2000]
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "BatchEvalPython", "SortMergeJoin"):
        assert marker not in plan
    assert "l_quantity:double,l_returnflag:string,l_linestatus:string" \
        in plan  # column pruning reached the parquet scan


def test_drawdown_is_one_exchange(spark):
    """w12's four window passes (running sum, running max of it, the
    drawdown, running max of the drawdown) share (o_custkey,
    date-ordered) keys: the subset rule must plan exactly ONE
    exchange and one sort — a second exchange means the nested
    windows stopped sharing the sorted run."""
    plan = _plan(spark, "w12_drawdown")
    assert plan.count("Exchange") == 1, plan


def test_w13_gate_is_one_exchange(spark):
    """w13 composes w10's median, w11's MAD, and the gate compare on
    the SAME (user_id, ts-ordered) window keys: the subset rule must
    plan exactly ONE exchange — a second exchange means the
    composition stopped sharing the sorted run."""
    plan = _plan(spark, "w13_robust_anomaly_gate")
    assert plan.count("Exchange") == 1, plan
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "BatchEvalPython"):
        assert marker not in plan
