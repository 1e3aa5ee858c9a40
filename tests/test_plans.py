"""Physical-plan quality gates (SURVEY §4): these assert the *shape*
of the plan — pushdown, pruning, broadcast choice, map-side partial
aggregation, top-k group-limit, Python-boundary absence — so a
regression that silently de-optimizes a query fails loudly.

The reference delegates all of this to its host engine; in our
Spark-first design the host IS the engine, so the plan shape is part
of the product contract (JsonQueryUDTF.java has no analog — these
gates protect what Catalyst gives us for free)."""

from __future__ import annotations

import pytest

from hive_jq_udtf_spark.plans.queries import QUERIES

from conftest import collect_routed

SF_DIR = "/root/testdata/sf0.001"

PY_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "PythonUDTF", "FlatMapGroupsInPandas")


def oracle_rows(name: str) -> list:
    """The DuckDB oracle's rows for query ``name`` at ``SF_DIR``."""
    import duckdb

    from hive_jq_udtf_spark.plans.queries import ORACLES

    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return sorted(map(tuple, con.execute(ORACLES[name]).fetchall()))


def python_tier_rows(spark, name: str) -> list:
    """Query ``name``'s rows, asserting its jq stages run on the Python
    tier: no native plan binds a document."""
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan and "__jq_docbind" not in plan, name
    return sorted(map(tuple, df.collect()))


def formatted_plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_DIR)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = formatted_plan(spark, "pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # predicate reached the scan
    # column pruning: full lineitem is 16 cols; the scan must read only what's used
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in read and "l_comment" not in read
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_dim_joins_are_broadcast(spark):
    for name in ("top_revenue_orders", "region_revenue"):
        plan = formatted_plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name  # dims must not shuffle the fact side


def test_window_topk_uses_group_limit(spark):
    # rank<=k must plan as WindowGroupLimit (partial top-k before shuffle),
    # not a full sort of every partition's rows
    assert "WindowGroupLimit" in formatted_plan(spark, "window_topk")


def test_native_tier_has_no_python_node(spark):
    # the only Python node reads duplicate-key rows; clean data sends
    # it none
    assert collect_routed(QUERIES["jq_native_agg"](spark, SF_DIR))[1] == 0
    plan = formatted_plan(spark, "jq_native_agg")
    assert "get_json_object" in plan  # compiled to the native extraction


def test_python_tier_is_arrow_batched(spark):
    plan = formatted_plan(spark, "jq_extract_agg")
    # the general jq program runs in Python, but it must cross the
    # boundary Arrow-batched (UDTF/eval nodes), never row-pickled
    assert any(p in plan for p in PY_NODES)


def test_multimodal_stats_prunes_payload_columns(spark):
    read = [l for l in formatted_plan(spark, "multimodal_stats").splitlines() if "ReadSchema" in l]
    assert read and all("doc_id" not in l for l in read)  # only text needed


def test_exact_dedup_single_shuffle(spark):
    plan = formatted_plan(spark, "dedup_exact")
    # one hash-partition exchange for the groupBy (plus AQE read) — the
    # dedup itself must not add extra shuffles
    assert plan.count("Exchange hashpartitioning") <= 2


def test_asof_join_single_shuffle_no_join_node(spark):
    # the union+window formulation must plan as ONE hash exchange
    # (the window partition) and ZERO join operators
    plan = formatted_plan(spark, "asof_attribution")
    assert "Join" not in plan  # no SortMergeJoin/BroadcastHashJoin/NestedLoop
    # exactly one hash shuffle (the window partition); the only other
    # exchange is the final orderBy's range partitioning
    assert 1 <= plan.count("hashpartitioning") <= 2


def test_range_join_is_hash_join_not_nested_loop(spark):
    plan = formatted_plan(spark, "range_attribution")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan  # equi-join on (key, bucket)


def test_salted_join_spreads_key(spark):
    plan = formatted_plan(spark, "salted_join_agg")
    assert "__salt" in plan  # salt participates in the join key


def test_exists_rewrites_to_semi_join(spark):
    plan = formatted_plan(spark, "order_priority_exists")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_not_in_rewrites_to_null_aware_anti(spark):
    plan = formatted_plan(spark, "supplier_parts_in")
    assert "LeftSemi" in plan  # the IN subquery
    assert "LeftAnti" in plan  # the NOT IN subquery
    assert "CartesianProduct" not in plan


def test_scalar_correlated_subquery_is_aggregated_join(spark):
    plan = formatted_plan(spark, "small_qty_revenue")
    # Catalyst de-correlates into an aggregate joined on partkey —
    # no per-row re-execution of the subquery
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert plan.count("partial_avg") >= 1


def test_bloom_prefilter_prunes_but_preserves_semantics(spark):
    from hive_jq_udtf_spark.plans.queries_r3 import q_bloom_semi_join
    from hive_jq_udtf_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    plan = formatted_plan(spark, "bloom_semi_join")
    # final exactness comes from a real semi join, bloom only pre-filters
    assert "LeftSemi" in plan
    # the bloom build side is one tiny array broadcast, not a shuffle of the fact
    assert "BroadcastExchange" in plan


def test_topk_join_group_limit_both_sides_of_shuffle(spark):
    """topk_join's per-segment limit must appear BOTH map-side (Partial
    WindowGroupLimit before the exchange — each task forwards ≤k rows
    per key) and final-side, and the dim join must be broadcast."""
    plan = formatted_plan(spark, "topk_join")
    assert plan.count("WindowGroupLimit") >= 2
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_sample_is_partial_topk_not_global_sort(spark):
    """A-ES sampling must plan as TakeOrderedAndProject (per-partition
    partial top-k, k rows to the driver merge) — a global Sort +
    Exchange of the corpus would be the 100 TB failure mode."""
    plan = formatted_plan(spark, "weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_funnel_windowed_reuses_user_partitioning(spark):
    """The three chained per-user aggregations must hash-shuffle the
    events fact at most once per source scan — follow-up joins and
    re-aggregations are co-partitioned on user_id."""
    plan = formatted_plan(spark, "funnel_windowed")
    # 3 scans of events (t1/t2/t3 chain) → at most one hash exchange
    # of each scan + broadcast/small exchanges; no range partitioning
    fact_exchanges = [
        l for l in plan.splitlines()
        if "Exchange hashpartitioning(user_id" in l
    ]
    assert len(fact_exchanges) <= 3


def test_stratified_topk_sample_group_limit(spark):
    plan = formatted_plan(spark, "stratified_topk_sample")
    assert plan.count("WindowGroupLimit") >= 2  # map-side partial + final


def test_interval_overlap_no_cartesian(spark):
    """The overlap self-join must be a hash join on (key, bucket) —
    never a nested-loop/cartesian over the interval table."""
    plan = formatted_plan(spark, "interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sliding_chunks_no_shuffle_before_sort(spark):
    """Chunking is embarrassingly parallel: the only exchange in the
    plan is the final presentation sort's range partitioning."""
    plan = formatted_plan(spark, "sliding_chunks")
    import re
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), exchanges


def test_semantic_dedup_confines_quadratic_join_to_cells(spark):
    """The pairwise join must key on the cell id (hash join), and the
    corpus must reach it through the one mapInPandas assignment."""
    plan = formatted_plan(spark, "semantic_dedup")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "MapInPandas" in plan


def test_topk_dynamic_k_keeps_group_limit_pushdown(spark):
    # the dynamic per-key k would defeat WindowGroupLimit; the
    # two-stage operator filters by the literal max_k first so the
    # pushdown still fires (map tasks forward at most max_k rows/key)
    plan = formatted_plan(spark, "topk_join_dynamic_k")
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan  # customer dim stays broadcast


def test_hll_join_cardinality_estimate_is_join_free(spark):
    # the ESTIMATE itself must never execute the join being estimated:
    # one agg pass per side, right stats broadcast as a single row
    from hive_jq_udtf_spark.operators.joinest import join_cardinality_estimate
    from hive_jq_udtf_spark.sources.tables import load_table

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    est = join_cardinality_estimate(
        orders, li, "o_orderkey", "l_orderkey", group_cols=["o_orderpriority"]
    )
    qe = est._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = qe.explainString(mode)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan  # only the 1-row nested-loop
    assert "partial_approx_count_distinct" in plan  # mergeable HLL partials


def test_session_funnel_windowed_partitioning_reuse(spark):
    # sessionize (1 user_id exchange) + three (user, session) aggs
    # whose joins reuse the same hash partitioning: the events table
    # must not be re-exchanged per funnel step beyond the two keys
    plan = formatted_plan(spark, "session_funnel_windowed")
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_dup_ngram_spans_single_gram_exchange_no_python(spark):
    # n-gram construction is codegen (sequence/slice/array_join); the
    # gram aggregation and the gram→doc join reuse one gram hash
    # partitioning; nothing crosses into Python
    plan = formatted_plan(spark, "dup_ngram_spans")
    assert not any(p in plan for p in PY_NODES)
    assert plan.count("Exchange hashpartitioning(gram") <= 2


def test_hilbert_unroll_is_true_hilbert_curve(spark):
    # the 4-level unrolled xy2d must be a bijection on the 16x16 grid
    # with every consecutive pair of cells unit-adjacent (the locality
    # property that makes it beat Morton for data skipping)
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.plans.queries_r5 import _hilbert_cols

    g = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    rows = g.select(
        "x", "y", _hilbert_cols(F.col("x"), F.col("y"), 4).alias("d")
    ).collect()
    assert sorted(r.d for r in rows) == list(range(256))
    pos = {r.d: (r.x, r.y) for r in rows}
    assert all(
        abs(pos[d][0] - pos[d + 1][0]) + abs(pos[d][1] - pos[d + 1][1]) == 1
        for d in range(255)
    )


def test_bucketed_join_agg_zero_exchange(spark):
    # both sides bucketed+sorted on the key: the sort-merge join must
    # consume the bucketing — no Exchange anywhere in the plan
    plan = formatted_plan(spark, "bucketed_join_agg")
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2  # both scans consume buckets
    # join itself is exchange-free: only the final groupBy + orderBy
    # exchanges remain (an unbucketed SMJ would add two more).  Count
    # detail entries, not tree-header mentions.
    import re

    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_returned_items_filter_pushed_and_preaggregated(spark):
    # TPC-H Q10 shape: the returnflag filter must reach the lineitem
    # scan, and the per-customer sum must partial-aggregate before its
    # shuffle (so the customer join input is |customers|, not |lineitem|)
    plan = formatted_plan(spark, "returned_items")
    assert "EqualTo(l_returnflag,R)" in plan
    assert "partial_sum" in plan


def test_promo_revenue_part_join_broadcast_and_pruned(spark):
    plan = formatted_plan(spark, "promo_revenue_share")
    assert "BroadcastHashJoin" in plan
    # part scan reads only the two used columns
    reads = [l for l in plan.splitlines() if "ReadSchema" in l and "p_partkey" in l]
    assert reads and all("p_retailprice" not in l and "p_name" not in l for l in reads)


def test_dormant_customers_anti_join_with_pushed_date(spark):
    plan = formatted_plan(spark, "dormant_customers")
    assert "LeftAnti" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan  # filter at the orders scan


def test_volume_shipping_dims_broadcast_no_cartesian(spark):
    plan = formatted_plan(spark, "volume_shipping")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # nation-pair filter pushed to the 25-row nation scan
    assert "In(n_name" in plan


def test_ks_preaggregates_before_global_window(spark):
    # the fact pass must collapse to per-distinct-value counts (partial
    # aggregation) BEFORE the ECDF prefix-sum windows
    plan = formatted_plan(spark, "ks_two_sample")
    assert "partial_sum" in plan
    assert plan.count("Window") >= 1
    # the segment filter reaches the customer scan
    assert "In(c_mktsegment" in plan


def test_statistics_prefix_sums_are_range_partitioned(spark):
    # ks/mwu/km prefix sums must run as the two-phase global_cumsum:
    # every Window node partitions by the _range split, so no window
    # ever sees an Exchange SinglePartition of the distinct-value
    # frame (the 1-row totals aggregates still legitimately use one)
    for name in ("ks_two_sample", "mannwhitney_u", "kaplan_meier"):
        plan = formatted_plan(spark, name)
        lines = plan.splitlines()
        n_windows = 0
        for i, l in enumerate(lines):
            if l.startswith("(") and ") Window" in l:
                n_windows += 1
                args = lines[i + 2]
                assert "windowspecdefinition(_range#" in args, (name, args)
        assert n_windows >= 1, name


def test_kaplan_meier_total_is_broadcast(spark):
    plan = formatted_plan(spark, "kaplan_meier")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_df_cap_bounds_candidates(spark):
    # the shingle self-join must be preceded by the df<=20 frequency
    # cap (the fan-out bound) and must be a hash join, never cartesian
    plan = formatted_plan(spark, "containment_neardup")
    assert "CartesianProduct" not in plan
    assert "(df" in plan and "20" in plan
    assert "partial_count" in plan


def test_bigram_ppl_counts_map_combine(spark):
    plan = formatted_plan(spark, "bigram_ppl")
    assert "partial_count" in plan  # train counts combine before shuffle
    assert "CartesianProduct" not in plan


def test_knn_eval_topk_uses_group_limit(spark):
    # the rk<=5 cut must run as WindowGroupLimit (partial top-k below
    # the exchange), and the cosine math must stay JVM-side
    plan = formatted_plan(spark, "knn_label_eval")
    assert "WindowGroupLimit" in plan
    for node in PY_NODES:
        assert node not in plan


def test_rfm_windows_run_on_aggregated_frame(spark):
    # the three ntile windows must sort the per-customer aggregate,
    # not order rows: partial aggregation collapses before any window
    plan = formatted_plan(spark, "rfm_segmentation")
    assert "partial_" in plan
    assert plan.index("HashAggregate") < plan.index("Window")


def test_basket_lift_pairs_join_on_orderkey_not_cartesian(spark):
    plan = formatted_plan(spark, "basket_lift")
    assert "CartesianProduct" not in plan
    # the pair fan-out must join on l_orderkey (hash join) — the ONLY
    # nested-loop join allowed is the 1-row n_orders broadcast (r14:
    # the eager distinct-count job became a lazy IdentityBroadcastMode
    # cross, the documented scalar-parameter shape of the r7c gate)
    # one BNLJ node = two mentions in a formatted plan (tree + detail)
    # every BNLJ node must be a 1-row IdentityBroadcastMode scalar
    # cross (ADVICE r14: a refactor that dropped the scalar join but
    # introduced one data-sized BNLJ would also have 2 substring
    # mentions — count NODES and require one IdentityBroadcastMode
    # exchange per node)
    import re

    n_bnlj = len(re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M))
    assert n_bnlj >= 1
    assert plan.count("IdentityBroadcastMode") == n_bnlj
    assert "partial_count" in plan


def test_dbscan_distance_math_is_jvm_side(spark):
    plan = formatted_plan(spark, "dbscan_clusters")
    for node in PY_NODES:
        assert node not in plan


def test_waiting_suppliers_semi_anti_no_resubquery(spark):
    # Q21 shape: EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, both as
    # joins on orderkey; no nested-loop and no cartesian
    plan = formatted_plan(spark, "waiting_suppliers")
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_layout_queries_have_no_single_partition_sort(spark):
    # zorder/hilbert file assignment must be the two-phase
    # range-partitioned ranking (operators/layout.py) — never an
    # `Exchange SinglePartition -> Window [ntile]` that pulls the
    # whole table through one task.  Since the r14 lazy rewrite the
    # plan DOES contain SinglePartition exchanges, but only under
    # constant-size frames (the 1-row percentile_approx global
    # aggregate and the ≤num_partitions-row offsets window — the work
    # that used to run as eager driver collects, guide §5); the
    # invariant is that every window's spec keys on the _range split,
    # so the data-sized ranking never collapses to one task.
    import re

    for name in ("zorder_layout", "hilbert_layout"):
        plan = formatted_plan(spark, name)
        # bucket math is pure DIV codegen — no ntile() window function
        # ("ntile" alone would also match the in-plan percentile_approx
        # split-point aggregate since the r14 lazy rewrite)
        assert "ntile(" not in plan, name
        # the data-sized ranking window must PARTITION by _range
        # (VERDICT r14 #8): in a formatted spec, partitionBy exprs
        # print bare ("_range#12,") while orderBy exprs carry a sort
        # direction ("_range#12 ASC ..."), so requiring the bare form
        # right after the open paren pins _range to partition position
        assert re.search(
            r"row_number\(\) windowspecdefinition\(_range#\d+,", plan
        ), name
        # every window spec in the plan must key on the _range split
        # (partition for the data window, order for the constant-size
        # offsets window) — scan each spec occurrence instead of a
        # fixed line offset into the detail block (ADVICE r14)
        specs = [
            plan[m.end() : m.end() + 200]
            for m in re.finditer(r"windowspecdefinition\(", plan)
        ]
        assert specs, name
        for s in specs:
            assert "_range#" in s.split("specifiedwindowframe")[0], (name, s)


def test_ivf_candidate_queries_no_cartesian_no_python(spark):
    # dbscan_ivf / knn_eval_ivf replace the all-pairs crossJoin with
    # the IVF cell join: no cartesian/nested-loop node may appear,
    # and cell assignment is pure codegen (ivf_cells_codegen), so no
    # Python node either
    for name in ("dbscan_ivf", "knn_eval_ivf"):
        plan = formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        for node in PY_NODES:
            assert node not in plan, name


def test_r7_queries_plan_shapes(spark):
    # round-7 additions: all four are pure-codegen plans (no Python
    # node) with no cartesian/nested-loop anywhere
    for name in (
        "embedding_quantize_int8",
        "supplier_affinity_cn",
        "ngram_novelty",
        "pareto_frontier",
    ):
        plan = formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        for node in PY_NODES:
            assert node not in plan, name
    # quantize: the 64x posexplode fanout must reduce map-side —
    # partial aggregation before its single exchange
    plan = formatted_plan(spark, "embedding_quantize_int8")
    assert "partial_count" in plan or "partial" in plan.lower()
    # pareto: the data-side pass is one broadcast join; the only
    # window runs over the tiny size-class frame, and the big table
    # is never exchanged into a single partition before that window
    plan = formatted_plan(spark, "pareto_frontier")
    assert "BroadcastHashJoin" in plan


def test_lpa_communities_no_cartesian_no_python(spark):
    plan = formatted_plan(spark, "lpa_communities")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_NODES:
        assert node not in plan


def test_setsim_neardup_no_cartesian_no_python_no_doc_pairs(spark):
    # the exact Jaccard audit must stay combinatorial: candidate
    # generation is the token-bucket equi-join over DISTINCT-set
    # prefixes (never a cartesian / nested-loop), verification and
    # histogram math are pure codegen (no Python node anywhere)
    plan = formatted_plan(spark, "setsim_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for node in PY_NODES:
        assert node not in plan


def test_aqe_layout_canary_persist_keeps_partitioning(spark):
    # The iterative-graph operators (pagerank/LPA/BFS) lay their edge
    # frame out ONCE via repartition(key).persist() and rely on AQE
    # keeping that layout (docs/aqe_partitioning.md).  This canary
    # pins both halves of the finding on the FINAL AdaptiveSparkPlan:
    # a persisted layout aggregates exchange-free, a localCheckpoint
    # layout does NOT (AQE discards LogicalRDD partitioning).  If a
    # Spark upgrade changes either behavior, revisit the operators.
    from pyspark.sql import functions as F

    df = spark.range(10000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )

    def final_plan(frame):
        g = frame.groupBy("k").agg(F.sum("v"))
        g.collect()
        s = g._jdf.queryExecution().executedPlan().toString()
        return s.split("== Initial Plan ==")[0]

    pers = df.repartition(8, F.col("k")).persist()
    try:
        pers.count()
        plan = final_plan(pers)
        above = plan.split("InMemoryTableScan")[0]
        assert "ENSURE_REQUIREMENTS" not in above, above
    finally:
        pers.unpersist()

    cp = df.repartition(8, F.col("k")).localCheckpoint(eager=True)
    plan_cp = final_plan(cp)
    assert "ENSURE_REQUIREMENTS" in plan_cp, plan_cp


def test_r7c_analytics_plan_shapes(spark):
    # experimentation/governance wave: pure-codegen plans — no Python
    # node anywhere, and no nested-loop join EXCEPT the documented
    # 1-row broadcast moments/bounds crosses (BroadcastNestedLoopJoin
    # over a single-row side is the intended shape for scalar
    # parameters; a CartesianProduct over data-sized sides is not)
    for name in (
        "cuped_adjusted_lift",
        "bootstrap_ci_poisson",
        "calibration_ece",
        "k_anonymity_audit",
        "conformal_interval",
    ):
        plan = formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        for node in PY_NODES:
            assert node not in plan, name
    # the bootstrap's B-fanout must reduce map-side before its one
    # exchange (partial aggregation on the exploded replicate stream)
    plan = formatted_plan(spark, "bootstrap_ci_poisson")
    assert "partial" in plan.lower()


# ---------------------------------------------------------------------------
# Forced shuffle-regime tests for the |V|-gated broadcast operators
# (VERDICT r7 #4): at test SFs the gates always pick broadcast, so the
# 100x shuffle path was written but never executed.  These force it
# (regime flag + autoBroadcastJoinThreshold=-1 so AQE cannot sneak the
# broadcast back) and assert BOTH correctness and the exchange shape.
# ---------------------------------------------------------------------------

import contextlib


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _final_plan_of(df) -> str:
    df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    return s.split("== Initial Plan ==")[0]


def _two_clique_edges(spark):
    from pyspark.sql import functions as F

    # two 5-cliques bridged by one edge — unambiguous communities
    pairs = [
        (a, b)
        for grp in (range(5), range(10, 15))
        for a in grp
        for b in grp
        if a != b
    ] + [(4, 10), (10, 4)]
    return spark.createDataFrame(pairs, "src long, dst long")


def test_lpa_forced_shuffle_regime_matches_broadcast_and_shuffles(spark):
    from hive_jq_udtf_spark.operators.communities import label_propagation

    edges = _two_clique_edges(spark)
    want = sorted(
        map(tuple, label_propagation(edges, iterations=3,
                                     broadcast_labels=True).collect())
    )
    probe: list = []
    with _no_auto_broadcast(spark):
        got_df = label_propagation(
            edges, iterations=3, broadcast_labels=False, plan_probe=probe
        )
        got = sorted(map(tuple, got_df.collect()))
        plan = _final_plan_of(probe[0])
    assert got == want
    # the per-step plan really runs the shuffle regime: a non-broadcast
    # join plus at least one hash exchange (the label frame moving to
    # the edges' hash(src) layout / the mode aggregation)
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    assert "Exchange hashpartitioning" in plan, plan


def test_lpa_broadcast_regime_step_is_exchange_free(spark):
    from hive_jq_udtf_spark.operators.communities import label_propagation

    edges = _two_clique_edges(spark)
    probe: list = []
    label_propagation(
        edges, iterations=3, broadcast_labels=True, plan_probe=probe
    ).collect()
    plan = _final_plan_of(probe[0])
    # broadcast join + both aggregations riding the hash(dst) layout:
    # no Catalyst-INSERTED exchange anywhere in the step (the probe
    # re-executes after the operator unpersisted its edge cache, so
    # the one-time REPARTITION_BY_NUM layout exchange shows up inline
    # here — in production it sits inside the persisted frame; what
    # must never appear is an ENSURE_REQUIREMENTS re-shuffle)
    assert "BroadcastHashJoin" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan


def test_bfs_forced_shuffle_regime_matches_broadcast_and_shuffles(spark):
    from hive_jq_udtf_spark.operators.graph_paths import multi_source_hops

    edges = _two_clique_edges(spark)
    srcs = spark.createDataFrame([(0,)], "node long")
    want = sorted(
        map(tuple, multi_source_hops(edges, srcs, max_hops=3,
                                     broadcast_dist=True).collect())
    )
    probe: list = []
    with _no_auto_broadcast(spark):
        got_df = multi_source_hops(
            edges, srcs, max_hops=3, broadcast_dist=False, plan_probe=probe
        )
        got = sorted(map(tuple, got_df.collect()))
        plan = _final_plan_of(probe[0])
    assert got == want
    assert "BroadcastHashJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
    assert "Exchange hashpartitioning" in plan, plan


def test_bfs_broadcast_regime_round_is_exchange_free(spark):
    from hive_jq_udtf_spark.operators.graph_paths import multi_source_hops

    edges = _two_clique_edges(spark)
    srcs = spark.createDataFrame([(0,)], "node long")
    probe: list = []
    multi_source_hops(
        edges, srcs, max_hops=3, broadcast_dist=True, plan_probe=probe
    ).collect()
    plan = _final_plan_of(probe[0])
    # same reasoning as the LPA broadcast-regime test: the one-time
    # REPARTITION_BY_NUM layout exchange is expected inline (cache
    # already unpersisted); an ENSURE_REQUIREMENTS re-shuffle is not
    assert "BroadcastHashJoin" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan


def test_knn_eval_ivf_past_gate_degrades_to_shuffle_joins(spark):
    # force the probe-size gate shut AND kill auto-broadcast: the
    # hinted plan must degrade to shuffle joins on (cell)/(qid) with
    # identical output — the documented 100x path actually executed
    from hive_jq_udtf_spark.plans import queries_r6 as r6

    name = "knn_eval_ivf"
    want = sorted(map(tuple, QUERIES[name](spark, SF_DIR).collect()))
    old_gate = r6._BROADCAST_MAX_PROBE
    r6._BROADCAST_MAX_PROBE = 0
    try:
        with _no_auto_broadcast(spark):
            df = QUERIES[name](spark, SF_DIR)
            got = sorted(map(tuple, df.collect()))
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan = plan.split("== Initial Plan ==")[0]
    finally:
        r6._BROADCAST_MAX_PROBE = old_gate
    assert got == want
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan


def test_jq_native_limit_python_tier_matches_oracle(spark):
    # limit / first / object-iterate programs iterate, so they run on
    # the Python tier
    assert python_tier_rows(spark, "jq_native_limit") == oracle_rows("jq_native_limit")


def test_jq_native_multi_iterate_python_tier_matches_oracle(spark):
    """`.evs[].tags[]` over OBJECT and ARRAY inner targets runs on the
    Python tier and gives the oracle's rows."""
    rows = python_tier_rows(spark, "jq_native_multi_iterate")
    assert rows == oracle_rows("jq_native_multi_iterate") and rows[0][0] > 0


def test_semantic_dedup_whitened_no_cartesian(spark):
    """The whitened dedup's quadratic step must stay confined to
    direction-grid cells: an equi-join on cell, never a
    cartesian/nested-loop pair enumeration, and no Python node
    anywhere."""
    from hive_jq_udtf_spark.plans.queries import QUERIES
    from hive_jq_udtf_spark.plans.queries_r9 import _WSD_Q

    df = QUERIES["semantic_dedup_whitened"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = df.collect()
    # occupied direction cells: more than one (the corpus is not
    # all one direction), at most the full grid
    assert 1 < len(rows) <= (2 * _WSD_Q) ** 3
    assert all(r.n_dropped <= r.n_members for r in rows)
    assert all(0 <= r.cell < (2 * _WSD_Q) ** 3 for r in rows)


def test_bpe_token_stats_single_arrow_pass(spark):
    """VERDICT r10 #2 plan gate: the corpus reaches the tokenizer
    through exactly ONE Arrow mapInPandas pass sitting directly on
    the pruned scan (no Python stage before it, no corpus-sized join
    back for the metadata columns — they ride the Arrow batch), and
    the aggregation below it is a plain partial+final hash agg."""
    plan = formatted_plan(spark, "bpe_token_stats")
    # formatted mode prints each node twice (tree + detail header);
    # count the numbered detail headers
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    for node in PY_NODES:
        if node != "MapInPandas":
            assert node not in plan, node
    # no join anywhere: (source, lang) are carried through the batch
    assert "Join" not in plan
    # scan pruning: documents.n_chars is not consumed
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_chars" not in read and "text" in read


def test_jpeg_decode_stats_pure_map_pipeline(spark):
    """Synthesis and decode are two Arrow passes over a pruned scan;
    the only exchange is the presentation sort's range partitioning
    — no join, no corpus shuffle."""
    import re

    plan = formatted_plan(spark, "jpeg_decode_stats")
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2
    assert "Join" not in plan
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(e == "rangepartitioning" for e in exchanges), exchanges
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "n_chars" not in read and "lang" not in read


def test_jq_keys_explode_python_tier_and_pruned(spark):
    """r11 plan gate: both keys programs iterate, so they run on the
    Python tier and give the oracle's rows; there is no join, and the
    scan prunes the unused text column."""
    assert python_tier_rows(spark, "jq_keys_explode") == oracle_rows("jq_keys_explode")
    plan = formatted_plan(spark, "jq_keys_explode")
    assert "Join" not in plan
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read and "doc_id" in read


def test_jq_native_growth_no_python_and_pruned(spark):
    """r12 plan gate (VERDICT r11 #5): contains-select and the full
    split array compile natively, the whole-element has under an
    iterate runs on the Python tier; the rows are the oracle's, there
    are no joins, and every documents scan prunes the unused text
    column."""
    df = QUERIES["jq_native_growth"](spark, SF_DIR)
    assert sorted(map(tuple, df.collect())) == oracle_rows("jq_native_growth")
    plan = formatted_plan(spark, "jq_native_growth")
    assert "__jq_docbind" in plan and "ArrowEvalPython" in plan
    assert "Join" not in plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads, "expected parquet scans"
    for read in reads:
        assert "text" not in read, read


def test_jq_native_growth2_no_python_and_pruned(spark):
    """r13 plan gate (VERDICT r12 #5): all four growth programs —
    array slices, string slices, trims composed in a chain, regex
    select — compile natively: Python nodes only read duplicate-key
    rows (none here), no joins, and every documents scan prunes the
    unused text column."""
    assert collect_routed(QUERIES["jq_native_growth2"](spark, SF_DIR))[1] == 0
    plan = formatted_plan(spark, "jq_native_growth2")
    assert "Join" not in plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads, "expected parquet scans"
    for read in reads:
        assert "text" not in read, read


def test_jq_native_growth3_no_python_and_pruned(spark):
    """r14 plan gate (VERDICT r13 #4): sub-in-chain (first-occurrence
    splice) and capture-to-struct (per-group regexp_extract, reordered
    declaration) compile natively in ONE plan: Python nodes only read
    duplicate-key rows (none here), no joins, and one documents scan
    per branch (native rows, duplicate-key rows), each pruning the
    unused text column."""
    assert collect_routed(QUERIES["jq_native_growth3"](spark, SF_DIR))[1] == 0
    plan = formatted_plan(spark, "jq_native_growth3")
    assert "Join" not in plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(reads) == 2, reads
    for read in reads:
        assert "text" not in read, read
