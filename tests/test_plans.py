"""Plan-quality assertions: the scale contract, pinned as tests.

A wrong plan that returns right rows is still a bug at 100 TB. These
tests check the physical plans of headline queries for: parquet filter
pushdown, column pruning, broadcast joins on dim sides, bounded
exchange counts, and whole-stage codegen presence."""

from __future__ import annotations

import re

from kafka_streams_aggregate_spark.plans.inspect import (
    codegen_stage_count,
    count_exchanges,
    formatted_plan,
    has_broadcast_hash_join,
    pushed_filters,
    read_schemas,
    simple_plan,
)
from kafka_streams_aggregate_spark.registry import load_all

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return load_all()[name].spark(spark, SF)


def test_q1_filter_pushed_to_scan(spark):
    df = _q(spark, "q1_pricing_summary")
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_q1_column_pruning(spark):
    df = _q(spark, "q1_pricing_summary")
    schemas = read_schemas(df)
    assert schemas, "no parquet scan found"
    scan = schemas[0]
    # Only the 7 referenced columns, not all 11 of lineitem.
    assert "l_orderkey" not in scan and "l_partkey" not in scan, scan
    assert "l_quantity" in scan and "l_discount" in scan, scan


def test_star_agg_uses_broadcast_joins(spark):
    # nation/region carry explicit hints (fixed-size); customer has NO
    # hint — at this SF Catalyst's size stats must still pick broadcast,
    # proving the auto path works, while at 100x it degrades to SMJ
    # instead of OOMing on a forced broadcast.
    df = _q(spark, "q_broadcast_star_agg")
    assert has_broadcast_hash_join(df)
    # Fact table shuffles once for the final aggregation; dims broadcast.
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan[:2000]


def test_q3_selective_dim_broadcast(spark):
    df = _q(spark, "q3_shipping_priority")
    assert has_broadcast_hash_join(df)


def test_inventory_fold_single_shuffle(spark):
    # Window(partitionBy key) + groupBy(key) must reuse one hash
    # partitioning: exactly 1 exchange.
    df = _q(spark, "q_agg_inventory")
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_topk_uses_window_group_limit(spark):
    # Spark >= 3.5 pushes rank<=k into the window sort
    # (WindowGroupLimit) instead of materializing full sorted groups.
    df = _q(spark, "q_topk_orders_per_customer")
    assert "WindowGroupLimit" in formatted_plan(df)


def test_top20_avoids_global_sort(spark):
    df = _q(spark, "q_top20_lineitems")
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_upsert_latest_single_shuffle(spark):
    df = _q(spark, "q_upsert_latest")
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_whole_stage_codegen_on_hot_path(spark):
    # AQE wraps the plan and defers codegen until runtime; disable it
    # for this static inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = _q(spark, "q1_pricing_summary")
        assert codegen_stage_count(df) >= 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_join_strategy_hints_control_physical_plan(spark):
    """Physical join strategy is steerable per-join: merge hint forces
    SortMergeJoin, shuffle_hash forces ShuffledHashJoin — the manual
    override lane when AQE's choice is wrong for a known workload."""
    from kafka_streams_aggregate_spark.sources.tables import load_table

    orders = load_table(spark, "orders", SF)
    lineitem = load_table(spark, "lineitem", SF)
    cond = orders.o_orderkey == lineitem.l_orderkey

    merged = orders.join(lineitem.hint("merge"), cond)
    assert "SortMergeJoin" in formatted_plan(merged)

    hashed = orders.join(lineitem.hint("shuffle_hash"), cond)
    assert "ShuffledHashJoin" in formatted_plan(hashed)


def test_events_scan_prunes_props(spark):
    # The inventory fold never reads props/ts: scan schema must not
    # include them.
    df = _q(spark, "q_agg_inventory")
    schemas = read_schemas(df)
    assert schemas and "props" not in schemas[0], schemas


def test_q19_disjunction_implicates_pushed_to_both_scans(spark):
    # The OR-of-ANDs join predicate must not ship unfiltered scans: the
    # part side carries the explicit (brand,size) disjunction implicate
    # and Catalyst derives the lineitem quantity-range implicate itself.
    df = _q(spark, "q19_brand_size_revenue")
    filters = " ".join(pushed_filters(df))
    assert "p_brand" in filters and "p_size" in filters, filters
    assert "l_quantity" in filters, filters


def test_oov_vocab_is_bounded_topk_broadcast(spark):
    # The capped vocabulary must plan as TakeOrderedAndProject (per-
    # partition k-heap, driver merge of k rows — never a global sort)
    # and come back as the broadcast side of the left join.
    df = _q(spark, "q_text_oov_rate")
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert has_broadcast_hash_join(df), plan[:2000]


def test_kmv_kth_min_is_bounded_topk(spark):
    # The k-minimum-values cut must plan as TakeOrderedAndProject over
    # the distinct hashes — a per-partition k-heap, not a global sort.
    df = _q(spark, "q_approx_distinct_kmv")
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_q6_all_predicates_push_to_scan(spark):
    # TPC-H Q6 is the pushdown benchmark: date range, discount band and
    # quantity cap must ALL reach the parquet scan, and the single-row
    # aggregate needs exactly one (final-combine) exchange.
    df = _q(spark, "q6_forecast_revenue")
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, filters
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_q10_topk_is_bounded_and_dims_broadcast(spark):
    # Top-20 with tiebreaker: TakeOrderedAndProject (per-partition heap,
    # never a global sort) and the nation dim broadcast.
    df = _q(spark, "q10_returned_items")
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert has_broadcast_hash_join(df), plan[:2000]


def test_q4_exists_plans_as_semi_join(spark):
    # EXISTS must stay a LeftSemi hash join (match-bit probe): rewriting
    # through inner-join + distinct would materialize multiplicity.
    df = _q(spark, "q4_priority_late")
    assert "LeftSemi" in formatted_plan(df)


def test_q2_correlated_min_decorrelates_to_join(spark):
    # The correlated scalar MIN (cheapest regional supply per part) must
    # decorrelate into ONE grouped-min aggregate joined back on
    # (ps_partkey, ps_supplycost) — not a per-row subquery execution.
    df = _q(spark, "q2_min_cost_supplier")
    plan = formatted_plan(df)
    assert "Subquery" not in plan, plan[:2000]
    assert "min(ps_supplycost" in plan, plan[:2000]


def test_temporal_scd2_join_is_equi_driven(spark):
    # The interval predicate must ride the custkey equi-join as a
    # residual — a nested-loop/cartesian plan would be quadratic at
    # scale.
    df = _q(spark, "q_temporal_scd2_join")
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan[:2000]


def test_skew_salted_agg_two_phase_exchanges(spark):
    # The salting contract: phase 1 shuffles on (l_returnflag, _salt) —
    # spreading each hot key over 64 partials — and ONLY the tiny
    # partial-row stream shuffles again on l_returnflag for the final
    # merge. If Catalyst collapsed the phases into one exchange on the
    # bare key, the skew protection would be silently gone.
    df = _q(spark, "q_skew_salted_agg")
    plan = formatted_plan(df)
    assert "_salt" in plan, plan[:2000]
    import re

    parts = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    salted = [p for p in parts if "_salt" in p and "l_returnflag" in p]
    final = [p for p in parts if "_salt" not in p and "l_returnflag" in p]
    assert salted, plan[:2000]
    assert final, plan[:2000]


def test_bloom_probe_is_broadcast_only(spark):
    # The probe side must never shuffle: the word table broadcasts and
    # the per-segment rollup is the only exchange.
    df = _q(spark, "q_bloom_filter_probe")
    assert has_broadcast_hash_join(df)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_cep_groupby_reuses_window_exchange(spark):
    # lead() window and the final per-user aggregate share the hash
    # partitioning on user_id: one exchange end to end.
    df = _q(spark, "q_cep_pattern_match")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_ohlc_single_sort_single_exchange(spark):
    # The last-row marker is rn = count-over-partition, NOT a second
    # descending sort; regression-pin one exchange and one sort.
    df = _q(spark, "q_ohlc_downsample")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]
    plan = simple_plan(df)
    import re

    assert len(re.findall(r"\bSort \[", plan)) <= 1, plan[:2000]


def test_hll_register_build_partial_aggregates(spark):
    # Both groupBys must show map-side partial aggregation so the
    # exchange carries at most m rows per group per input partition.
    df = _q(spark, "q_approx_distinct_hll")
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 4, plan[:2000]
    assert has_broadcast_hash_join(df)  # exact side joins broadcast


def test_ivm_merge_is_two_preaggregated_exchanges(spark):
    # Base and delta each pre-aggregate map-side and exchange once on
    # user_id; the full-outer merge must not add a third shuffle.
    df = _q(spark, "q_incremental_view_agg")
    assert count_exchanges(df) <= 2, formatted_plan(df)[:2000]


def test_ols_single_exchange_partial_agg(spark):
    # One map-side-combinable hash aggregate: exactly one exchange and
    # partial+final HashAggregate pairs.
    df = _q(spark, "q_ols_trend_by_group")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]
    assert formatted_plan(df).count("HashAggregate") >= 2


def test_percentiles_single_exchange(spark):
    df = _q(spark, "q_latency_percentiles")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_transition_matrix_model_sized_tail(spark):
    # Per-user window exchange + (prev,next) aggregate exchange; the
    # normalizing window runs over <= |types|^2 cells so a third tiny
    # exchange is acceptable, a fourth is not.
    df = _q(spark, "q_event_transition_matrix")
    assert count_exchanges(df) <= 3, formatted_plan(df)[:2000]


def test_cep_quantified_single_exchange_no_join(spark):
    # The A B+ C quantifier reduction is one window pass: running-max
    # + last_value(IGNORE NULLS) carry the match-start attributes, so
    # there is no self-join and the final per-user aggregate reuses
    # the window's hash(user_id) exchange.
    df = _q(spark, "q_cep_quantified")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]
    assert "Join" not in formatted_plan(df), formatted_plan(df)[:2000]


def test_dynamic_partition_pruning_in_fact_scan(spark, tmp_path):
    # The fact scan must carry a dynamicpruning expression in its
    # PartitionFilters — partitions are elided at runtime from the
    # broadcast dim keys, not filtered after the read. (The registered
    # query checkpoints its result, so the pin rebuilds the join here.)
    from pyspark.sql import functions as F

    from kafka_streams_aggregate_spark.sources.tables import load_table

    orders = load_table(spark, "orders", "/root/testdata/sf0.001")
    path = str(tmp_path / "by_year")
    (
        orders.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .write.partitionBy("o_year")
        .parquet(path)
    )
    fact = spark.read.parquet(path)
    dim = fact.select("o_year").distinct().filter(F.col("o_year") % 3 == 0)
    joined = fact.join(F.broadcast(dim), "o_year").groupBy("o_year").count()
    plan = joined._jdf.queryExecution().toString()
    assert "dynamicpruning" in plan.lower(), plan[:3000]


def test_weighted_percentiles_single_exchange(spark):
    # Both cumulative-weight windows and the final aggregate share one
    # hash(flag) exchange.
    df = _q(spark, "q_weighted_percentiles")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_quantile_sketch_partial_aggregates(spark):
    # The bin-count build must partial-aggregate map-side (the heavy
    # exchange carries <= groups*nbins rows per input partition), and
    # the recovery stage adds exactly one more exchange on the group.
    df = _q(spark, "q_quantile_sketch_hist")
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 4, plan[:2000]
    assert count_exchanges(df) <= 2, plan[:2000]


def test_aqp_single_exchange_with_sample_pushdown(spark):
    # One map-side-combined aggregate over the sampled scan; the md5
    # residue predicate runs in the scan stage, before any exchange.
    df = _q(spark, "q_aqp_sampled_mean")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_out_of_order_audit_single_exchange(spark):
    # Running high-water window and the final per-type aggregate share
    # the hash(event_type) exchange.
    df = _q(spark, "q_out_of_order_audit")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_tombstone_compaction_uses_window_group_limit(spark):
    # The rn=1 latest-per-key filter must push into the sort as a
    # WindowGroupLimit (top-1 per key during the shuffle read), and
    # the whole query is one exchange with no joins.
    df = _q(spark, "q_compacted_upsert_tombstones")
    plan = formatted_plan(df)
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert count_exchanges(df) <= 1 and "Join" not in plan, plan[:2000]


def test_analytic_suite_single_exchange(spark):
    # Five window specs + the final fold all share one
    # hash(o_orderpriority) exchange.
    df = _q(spark, "q_analytic_function_suite")
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_udtf_expand_plans_arrow_not_batch(spark):
    # The Python UDTF must take the Arrow-batched path: a plain @udtf
    # plans as BatchEvalPythonUDTF (row-at-a-time pickling), which the
    # suite-wide lint forbids; useArrow=True must keep it on
    # ArrowEvalPythonUDTF, and the lateral expansion must run in the
    # scan stage. Two exchanges are inherent to the aggregate shape:
    # the COUNT(DISTINCT token) dedupe shuffle on (doc_id, token) plus
    # the final per-doc hash partitioning.
    df = _q(spark, "q_udtf_expand")
    plan = formatted_plan(df)
    assert "ArrowEvalPythonUDTF" in plan, plan[:2000]
    assert "BatchEvalPython " not in plan, plan[:2000]
    assert count_exchanges(df) <= 2, plan[:2000]


def test_bucketed_join_no_exchange_no_sort(spark, tmp_path):
    # Both sides written bucketBy(8, key).sortBy(key) with one file per
    # bucket: the sort-merge join must consume the bucket layout
    # directly — NO Exchange below the join; the only exchange in the
    # whole plan is the final per-segment aggregate. This is the
    # property that amortizes the join shuffle into the write at 100 TB.
    # Sort elision from the per-file sortBy order additionally requires
    # spark.sql.legacy.bucketedTableScan.outputOrdering (off by default
    # since Spark 3.0) — both behaviors pinned here.
    from kafka_streams_aggregate_spark.queries.scale_ops import (
        build_bucketed_join,
    )

    t_o, t_c = "test_bkt_orders", "test_bkt_cust"
    conf = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    try:
        df = build_bucketed_join(
            spark, "/root/testdata/sf0.001", str(tmp_path), t_o, t_c
        )
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert count_exchanges(df) == 1, plan[:2000]
        # Default session: the join keeps a cheap in-partition Sort.
        assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 2, plan[:2000]
        # With the legacy knob the per-file sortBy order is trusted and
        # both Sorts vanish: join input comes straight off the scans.
        spark.conf.set(conf, "true")
        df2 = (
            spark.table(t_o)
            .hint("merge")
            .join(
                spark.table(t_c),
                spark.table(t_o)["o_custkey"] == spark.table(t_c)["c_custkey"],
            )
        )
        plan2 = formatted_plan(df2)
        assert "SortMergeJoin" in plan2, plan2[:2000]
        assert len(re.findall(r"\(\d+\) Sort\b", plan2)) == 0, plan2[:2000]
        assert count_exchanges(df2) == 0, plan2[:2000]
    finally:
        spark.conf.unset(conf)
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")


def test_round8_single_exchange_claims(spark):
    # Each of these docstrings claims a one-shuffle shape; pin it.
    for name in (
        "q_ewma_smoothing",        # repartition(user_id) into fold_sorted_groups
        "q_sample_weighted",       # scan -> global aggregate
        "q_file_provenance",       # union of scans -> per-file aggregate
        "q_pandas_udaf_dot",       # AggregateInPandas per priority
        "q_pandas_udaf_window",    # window hash partitioning
        "q_sql_udf_functions",     # SQL UDFs inline; plain hash agg
    ):
        df = _q(spark, name)
        assert count_exchanges(df) <= 1, (name, formatted_plan(df)[:1500])


def test_round8_grid_joins_are_equi_not_cartesian(spark):
    # The grid/bucket candidate generators must plan as equi-joins on
    # the cell keys (broadcast at this SF, shuffle at scale) — never a
    # range/cartesian product.
    for name in ("q_interval_overlap_join", "q_spatial_grid_join"):
        df = _q(spark, name)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, (name, plan[:1500])
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan[:1500])
