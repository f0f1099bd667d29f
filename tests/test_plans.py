"""Physical-plan regression tests: pin the 100 TB-relevant properties of
the headline queries — join strategies, shuffle counts, pushdown,
column pruning. A change that keeps answers right but loses (say) the
broadcast or the pruning fails HERE, not on a cluster.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as ENTRY
from pyspark_datacol_diff_spark import plans as P
from pyspark_datacol_diff_spark.operators.diff import diff, flag_counts

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def qs():
    return ENTRY.queries()


def test_diff_is_one_sort_merge_join(qs, spark):
    df = qs["diff_orders_detail"](spark, SF)
    # full outer preserves both sides: must be SMJ, can never broadcast
    P.assert_join_strategy(df, sort_merge=1, broadcast_hash=0)


def test_diff_flags_prunes_comp_col_arr(qs, spark):
    df = qs["diff_orders_flags"](spark, SF)
    assert "CompColArr" not in P.physical_plan(df)


def test_diff_flags_prunes_uncompared_columns(spark):
    o = spark.read.parquet(f"{SF}/orders.parquet")
    d = diff(o, o, ["o_orderkey"], compare_cols=["o_orderstatus"])
    # only the key and the one compared column may be scanned
    for rs in P.read_schemas(flag_counts(d)):
        assert "o_totalprice" not in rs and "o_orderdate" not in rs


def test_q9_broadcasts_dims_single_shuffle(qs, spark):
    df = qs["q9_profit_by_nation"](spark, SF)
    plan = P.physical_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3  # supplier, part, nation
    assert "CartesianProduct" not in plan
    P.assert_max_shuffles(df, 1)  # only the final (nation, year) agg
    P.assert_filter_pushed(df, "p_type")


def test_q3_pushes_filters_and_broadcasts(qs, spark):
    df = qs["q3_shipping_priority"](spark, SF)
    P.assert_filter_pushed(df, "c_mktsegment")
    assert P.count_op(df, "BroadcastHashJoin") == 2


def test_semi_anti_are_broadcast(qs, spark):
    for name in ("join_semi_customers", "join_anti_customers"):
        assert P.count_op(qs[name](spark, SF), "BroadcastHashJoin") == 1


def test_text_stats_is_scan_only(qs, spark):
    # pure per-row projection: no shuffle at all
    P.assert_max_shuffles(qs["text_stats_docs"](spark, SF), 0)


def test_q1_is_single_aggregation_pass(qs, spark):
    df = qs["q1_pricing_summary"](spark, SF)
    P.assert_max_shuffles(df, 1)
    P.assert_filter_pushed(df, "l_shipdate")


def test_dedup_exact_is_single_shuffle(qs, spark):
    P.assert_max_shuffles(qs["dedup_exact_docs"](spark, SF), 1)


def test_ivf_assignment_is_zero_shuffle(spark):
    # the IVF index build must be a pure projection: nearest-centroid
    # selection happens per row against literal centroids, never via a
    # corpus x nlist join + window (which shuffles the whole corpus)
    from pyspark_datacol_diff_spark.operators.similarity import assign_cells

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = [[float(i == j) for j in range(8)] + [0.0] * 56 for i in range(4)]
    P.assert_max_shuffles(assign_cells(emb, centroids), 0)


def test_salted_join_partitions_on_salt(spark):
    # with broadcast off (forcing a shuffled join), the exchange must
    # hash-partition on (key, salt) so a hot key spreads over num_salts
    # shuffle partitions instead of one
    import re

    from pyspark_datacol_diff_spark.operators.skew import salted_join

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = spark.range(1000).select(
            F.lit(0).alias("k"), F.col("id").alias("payload")
        )
        small = spark.range(10).select(
            F.col("id").alias("k"), F.lit("m").alias("meta")
        )
        plan = P.physical_plan(salted_join(big, small, ["k"], num_salts=8))
        assert re.search(r"hashpartitioning\([^)]*__dcd_salt", plan), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_vocab_topk_uses_take_ordered(qs, spark):
    # the limit must fuse into TakeOrderedAndProject (per-partition
    # top-k then merge) — a global Sort + Limit would shuffle the whole
    # vocabulary to one partition at 100 TB
    plan = P.physical_plan(qs["vocab_topk_docs"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert P.count_op(qs["vocab_topk_docs"](spark, SF), "Sort") == 0


def test_chunking_is_zero_shuffle(qs, spark):
    P.assert_max_shuffles(qs["chunk_docs"](spark, SF), 0)


def test_survivor_corpus_victim_join_is_aqe_sized(qs, spark):
    # r09: the victim anti join must NOT be hint-forced to broadcast —
    # the victim list's size scales with the corpus's duplication rate,
    # so AQE owns the strategy (forced_broadcast lint class). The plan
    # must still be a LeftAnti equi-join, never a cross product.
    df = qs["dedup_survivor_corpus"](spark, SF)
    assert P.forced_broadcast_builds(df) == []
    plan = P.physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan


def test_apply_diff_plans_diff_once(spark):
    from pyspark_datacol_diff_spark.operators.diff import apply_diff

    o = spark.read.parquet(f"{SF}/orders.parquet")
    cols = ["o_orderstatus"]
    d = diff(o, o, ["o_orderkey"], compare_cols=cols, carry_unmatched=True)
    out = apply_diff(o, d, ["o_orderkey"], cols)
    plan = P.physical_plan(out)
    # the diff is referenced once: its full-outer join appears once and
    # the only other equi-join is the left join back to s1 — no union
    # branch re-plans the diff
    assert plan.count("FullOuter") == 1, plan
    joins = sum(
        P.count_op(out, op)
        for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    assert joins <= 2, plan
    assert "Union" not in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q17_aggregates_before_join_no_nested_loop(qs, spark):
    # the correlated scalar subquery must become aggregate-then-join:
    # no BroadcastNestedLoop (the naive correlated rewrite), and the
    # lineitem fact shuffles at most twice (per-part agg + final brand agg)
    df = qs["q17_small_quantity"](spark, SF)
    plan = P.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    P.assert_max_shuffles(df, 3)


def test_q13_aggregates_orders_before_customer_join(qs, spark):
    # orders reduce to one row per custkey BEFORE joining customer: the
    # Aggregate must appear below the join in the plan, and two
    # exchanges suffice (orders agg + distribution agg)
    df = qs["q13_custdist"](spark, SF)
    P.assert_max_shuffles(df, 3)
    plan = P.physical_plan(df)
    assert plan.index("HashAggregate") < plan.index("Join")


def test_q22_scalar_subquery_is_single_row_broadcast(qs, spark):
    # the global-average cross join is a 1-row BroadcastNestedLoop (the
    # correct physical form of a scalar subquery); the NOT EXISTS is a
    # broadcast anti hash join — never a shuffled fact-x-fact join
    df = qs["q22_idle_balances"](spark, SF)
    plan = P.physical_plan(df)
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "SortMergeJoin" not in plan


def test_pivot_unpivot_groupingsets_shuffle_budget(qs, spark):
    # pivot: pair-agg exchange + tiny pivot_first exchange; unpivot and
    # grouping sets: Expand is map-side, ONE exchange each
    P.assert_max_shuffles(qs["pivot_orders_status"](spark, SF), 2)
    for name in ("unpivot_lineitem", "groupingsets_events"):
        df = qs[name](spark, SF)
        P.assert_max_shuffles(df, 1)
        assert "Expand" in P.physical_plan(df)


def test_repetition_zero_shuffle_fold(qs, spark):
    # All six signals are per-row expressions (array_sort + one
    # aggregate run-length fold for top_bigram_count): the plan is
    # scan -> project with NO exchange, no explode, no join.
    df = qs["repetition_docs"](spark, SF)
    P.assert_max_shuffles(df, 0)
    plan = P.physical_plan(df)
    assert "Join" not in plan
    assert "Generate" not in plan  # no explode


def test_span_dedup_no_window_map_side_combine(qs, spark):
    # survivor election is a groupBy(__fp) min-struct with map-side
    # partial aggregation (digest-volume exchange), NOT a window over
    # per-occurrence rows; n_kept comes from the winner rows directly,
    # never a join back to occurrences.
    df = qs["span_dedup_docs"](spark, SF)
    plan = P.physical_plan(df)
    assert "Window" not in plan
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_decontaminate_broadcasts_benchmark(qs, spark):
    # benchmark gram set broadcasts; corpus side never shuffles before
    # the join (only the per-doc count aggregation exchanges)
    df = qs["decontaminate_docs"](spark, SF)
    P.assert_join_strategy(df, broadcast_hash=1, sort_merge=0)


def test_q5_broadcasts_dims_and_pushes_date(qs, spark):
    df = qs["q5_local_supplier"](spark, SF)
    plan = P.physical_plan(df)
    # customer, supplier (carrying the same-nation equi-cond), nation
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    P.assert_filter_pushed(df, "o_orderdate")


def test_tfidf_is_single_scan_no_join(qs, spark):
    df = qs["tfidf_top_docs"](spark, SF)
    # df_docs via window over tf, not a self-join: the corpus scans ONCE
    # and the shuffles are tf agg + token window + doc window (+ at most
    # one balance_partitions rebalance on under-split inputs)
    assert len(P.read_schemas(df)) == 1
    assert "Join" not in P.physical_plan(df)
    P.assert_max_shuffles(df, 4)


def test_scale_lint_flags_antipatterns(spark):
    from pyspark.sql import Window
    from pyspark.sql.functions import udf

    df = spark.read.parquet(f"{SF}/orders.parquet")

    codes = lambda q: {f["code"] for f in P.scale_lint(q)}  # noqa: E731
    assert "global_window" in codes(
        df.withColumn("r", F.row_number().over(Window.orderBy("o_orderkey")))
    )
    assert "cartesian" in codes(
        df.crossJoin(df.select(F.col("o_orderkey").alias("k2")))
    )
    assert "global_sort" in codes(df.orderBy("o_totalprice"))
    assert "row_python_udf" in codes(
        df.select(udf(lambda s: s.upper())("o_orderstatus"))
    )


def test_scale_lint_clean_on_headline_queries(qs, spark):
    # the plans we ship must pass our own linter (the brute-force ANN
    # family and the O(n^2) verify baselines deliberately broadcast a
    # pair blow-up, so they are not in this list; the global_sort warn
    # on range-clustered sinks is the documented use)
    for name in (
        "q1_pricing_summary",
        "q9_profit_by_nation",
        "q5_local_supplier",
        "pipeline_training_corpus",
        "tfidf_top_docs",
        "pack_sequences_docs",
        "salted_join_events",
        "dedup_exact_docs",
    ):
        findings = [
            f
            for f in P.scale_lint(qs[name](spark, SF))
            if f["severity"] == "error"
        ]
        assert findings == [], f"{name}: {findings}"


def test_q19_disjunction_stays_hash_join(qs, spark):
    df = qs["q19_disjunctive_revenue"](spark, SF)
    plan = P.physical_plan(df)
    # the OR of brand/size/qty conjunctions must stay a residual filter
    # over ONE partkey equi-join, never a nested loop over disjuncts
    assert plan.count("BroadcastHashJoin") == 1
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q4_semi_join_pushes_date(qs, spark):
    df = qs["q4_order_priority"](spark, SF)
    P.assert_filter_pushed(df, "o_orderdate")
    assert "LeftSemi" in P.physical_plan(df)


def test_q21_correlations_are_equi_joins(qs, spark):
    df = qs["q21_waiting_supplier"](spark, SF)
    plan = P.physical_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_scale_lint_downgrades_scalar_subquery_broadcast(qs, spark):
    # q22's global-average comparison is a 1-row keys=[] aggregate
    # broadcast into a nested loop — info, not error
    findings = P.scale_lint(qs["q22_idle_balances"](spark, SF))
    carts = [f for f in findings if f["code"] == "cartesian"]
    assert carts and all(f["severity"] == "info" for f in carts)
    # a genuine pair blow-up still errors
    df = spark.read.parquet(f"{SF}/orders.parquet")
    big = df.crossJoin(df.select(F.col("o_orderkey").alias("k2")))
    assert any(
        f["code"] == "cartesian" and f["severity"] == "error"
        for f in P.scale_lint(big)
    )


def test_funnel_single_user_sort_no_join(qs, spark):
    # all three stage windows + the per-user agg reuse ONE user-keyed
    # exchange; only the tiny stage-count agg adds a second. No join.
    df = qs["funnel_events"](spark, SF)
    P.assert_max_shuffles(df, 2)
    assert "Join" not in P.physical_plan(df)


def test_session_window_single_shuffle(qs, spark):
    P.assert_max_shuffles(qs["session_window_events"](spark, SF), 1)


def test_resample_joins_on_aggregated_sides(qs, spark):
    # dense spine is generated from the per-user bounds AGGREGATE
    # (users-sized), never a calendar cross-join
    df = qs["resample_user_hourly"](spark, SF)
    plan = P.physical_plan(df)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_q6_pushes_all_predicates(qs, spark):
    df = qs["q6_forecast_revenue"](spark, SF)
    P.assert_max_shuffles(df, 1)
    P.assert_filter_pushed(df, "l_shipdate")
    P.assert_filter_pushed(df, "l_discount")


def test_q10_take_ordered_and_broadcast_dims(qs, spark):
    df = qs["q10_returned_items"](spark, SF)
    plan = P.physical_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert plan.count("BroadcastHashJoin") >= 2  # customer, nation
    P.assert_filter_pushed(df, "l_returnflag")


def test_q14_single_broadcast_no_shuffle_before_agg(qs, spark):
    df = qs["q14_promo_effect"](spark, SF)
    assert P.count_op(df, "BroadcastHashJoin") == 1
    P.assert_max_shuffles(df, 1)


def test_scale_lint_declared_exact_baseline_downgrades_with_reason(spark):
    # an undeclared pair blow-up is an error; a declared exact baseline
    # is info AND carries the justification text (visible, not
    # suppressed)
    a = spark.range(10).withColumnRenamed("id", "x")
    b = spark.range(10).withColumnRenamed("id", "y")
    blowup = a.crossJoin(b).filter("x*y % 7 = 1")
    errs = [f for f in P.scale_lint(blowup) if f["code"] == "cartesian"]
    assert errs and all(f["severity"] == "error" for f in errs)
    declared = P.scale_lint(
        blowup, declared_exact_baseline="exact verify gate for tests"
    )
    cart = [f for f in declared if f["code"] == "cartesian"]
    assert cart and all(f["severity"] == "info" for f in cart)
    assert all("exact verify gate for tests" in f["detail"] for f in cart)


def test_hopping_window_expands_then_combines(qs, spark):
    # sliding windows: the 4x per-row window expansion (Expand) must sit
    # BELOW a partial aggregate, so the shuffle moves combined
    # (window,type) rows, never the expanded event stream
    df = qs["hopping_window_events"](spark, SF)
    plan = P.physical_plan(df)
    assert "Expand" in plan
    P.assert_max_shuffles(df, 1)
    assert "partial" in plan.split("Exchange")[-1]  # partial agg pre-shuffle


def test_ohlc_is_single_exchange_partial_agg(qs, spark):
    # struct-keyed open/close election: one exchange, partial+final
    # aggregate (SortAggregate — struct buffers aren't hash-agg
    # compatible — but map-side combine is the 100 TB property)
    df = qs["ohlc_user_hourly"](spark, SF)
    plan = P.physical_plan(df)
    P.assert_max_shuffles(df, 1)
    assert plan.count("SortAggregate") >= 2
    assert "Window" not in plan


def test_event_paths_two_keyed_shuffles_no_window(qs, spark):
    # sequence build (user-keyed) + gram count (path-keyed): exactly
    # two hash exchanges, no global window/sort, no cartesian
    df = qs["event_paths_users"](spark, SF)
    plan = P.physical_plan(df)
    P.assert_max_shuffles(df, 2)
    assert "Window" not in plan and "CartesianProduct" not in plan


def test_moments_is_single_pass_map_combined(qs, spark):
    # Gram aggregate: partial agg per input partition, one single-row
    # gather — no hash exchange, no join, whatever the column count
    df = qs["moments_lineitem"](spark, SF)
    plan = P.physical_plan(df)
    assert "hashpartitioning" not in plan
    assert "partial" in plan
    assert "Join" not in plan


def test_variant_read_is_scan_only(qs, spark):
    P.assert_max_shuffles(qs["variant_events_props"](spark, SF), 0)


def test_retention_cohorts_no_join_back_to_events(qs, spark):
    # cohort week comes from a window over the distinct weekly relation,
    # never a join back to the event log
    df = qs["retention_cohorts_events"](spark, SF)
    plan = P.physical_plan(df)
    assert "Join" not in plan
    P.assert_max_shuffles(df, 3)  # distinct, user window, final agg


def test_rfm_fences_broadcast_never_global_sort(qs, spark):
    # quartile fences come from a grouping-free aggregate broadcast back
    # — never an ntile/window global sort of the users (pinned absent).
    # The exact-percentile final merge itself carries an
    # O(distinct values) map in one task; the query docstring documents
    # approx_percentile as the same-shape swap when that outgrows a task
    df = qs["rfm_segments_events"](spark, SF)
    plan = P.physical_plan(df)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row fences join


def test_q15_max_is_broadcast_scalar_not_window(qs, spark):
    df = qs["q15_top_supplier"](spark, SF)
    plan = P.physical_plan(df)
    assert "Window" not in plan  # max-of-agg via 1-row broadcast, not rank
    # Catalyst turns the crossJoin+equality into a broadcast HASH join
    # keyed on the revenue value — 1-row build side, no nested loop
    assert plan.count("BroadcastExchange") >= 2  # max row + supplier dim
    assert "CartesianProduct" not in plan


def test_q8_single_aggregate_pass_all_dims_broadcast(qs, spark):
    df = qs["q8_market_share"](spark, SF)
    plan = P.physical_plan(df)
    # numerator and denominator come from ONE aggregate over the slice
    assert plan.count("BroadcastHashJoin") >= 5
    P.assert_filter_pushed(df, "p_type")


def test_copurchase_is_basket_explode_not_self_join(qs, spark):
    # pair generation must be the per-row array expansion: exactly the
    # basket-build shuffle + the pair-count shuffle, no items x items
    # join and no separate distinct pass (collect_set dedups per order)
    df = qs["copurchase_pairs_lineitem"](spark, SF)
    plan = P.physical_plan(df)
    assert "Join" not in plan
    P.assert_max_shuffles(df, 2)  # basket agg, pair agg


def test_backlog_has_no_single_partition_window(qs, spark):
    # the running sum must be the two-phase prefix sum, never a global
    # window funneling all weeks through one task
    df = qs["order_backlog_weekly"](spark, SF)
    from pyspark_datacol_diff_spark import plans as P2

    assert not [
        f for f in P2.scale_lint(df) if f["code"] == "global_window"
    ]


def test_user_trend_two_aggregates_no_window_no_join(qs, spark):
    df = qs["user_trend_features"](spark, SF)
    plan = P.physical_plan(df)
    assert "Window" not in plan and "Join" not in plan
    P.assert_max_shuffles(df, 2)  # (user, week) counts + per-user moments


def test_dq_grouped_report_is_single_scan(qs, spark):
    df = qs["dq_rules_by_source_docs"](spark, SF)
    plan = P.physical_plan(df)
    assert plan.count("FileScan") == 1
    assert "Join" not in plan
    P.assert_max_shuffles(df, 1)  # the source-grain aggregate


def test_bloom_semi_join_query_prunes_before_exchange(qs, spark):
    # the bitset probe must be a scan-stage filter (element_at against
    # the folded literal), with no bloom-build aggregate left in the
    # probe plan (it was collected at plan time)
    df = qs["bloom_semi_join_lineitem"](spark, SF)
    plan = P.physical_plan(df)
    assert "element_at" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_reconcile_is_one_join_no_cartesian(qs, spark):
    df = qs["reconcile_orders_lineitem"](spark, SF)
    plan = P.physical_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # lineitem agg + header join + status agg
    P.assert_max_shuffles(df, 4)


def test_wow_window_runs_over_aggregated_relation(qs, spark):
    # the lag window must consume the weekly aggregate, not the event
    # log: Window appears ABOVE a HashAggregate in the plan tree
    df = qs["wow_change_events"](spark, SF)
    plan = P.physical_plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate")


def test_hist_queries_are_algebraic_aggregates(qs, spark):
    for name in ("hist_event_value", "len_hist_by_source_docs"):
        df = qs[name](spark, SF)
        plan = P.physical_plan(df)
        assert plan.count("HashAggregate") >= 2, name  # partial + final
        assert "Window" not in plan, name


class TestReinlinedGeneratorFilterLint:
    """scale_lint's reinlined_generator_filter class (VERDICT r09 #6):
    the DETECTOR for the round-9 winnowing pathology — an explode whose
    inferred size() filter re-evaluates a nested HOF chain below the
    projection that defines it. The no_alias_inline fence fixes it;
    this lint catches the next unfenced expensive array column."""

    def _expensive_arr(self):
        # nested HOFs (transform over aggregate) -> >= 2 lambdafunctions
        # when alias-substituted into the inferred size() filter
        return F.transform(
            F.split("text", " "),
            lambda t: F.aggregate(
                F.sequence(F.lit(1), F.lit(3)),
                F.lit(0).cast("long"),
                lambda acc, i: acc + F.length(t) * i,
            ),
        )

    def test_fires_on_unfenced_offender(self, spark):
        d = spark.createDataFrame([(1, "a b c d e")], ["id", "text"])
        off = d.select("id", self._expensive_arr().alias("arr")).select(
            "id", F.explode("arr").alias("v")
        )
        codes = {f["code"] for f in P.scale_lint(off)}
        assert "reinlined_generator_filter" in codes

    def test_silent_when_fenced(self, spark):
        from pyspark_datacol_diff_spark.sources import no_alias_inline

        d = spark.createDataFrame([(1, "a b c d e")], ["id", "text"])
        ok = d.select(
            "id", no_alias_inline(self._expensive_arr()).alias("arr")
        ).select("id", F.explode("arr").alias("v"))
        codes = {f["code"] for f in P.scale_lint(ok)}
        assert "reinlined_generator_filter" not in codes

    def test_silent_on_cheap_generator(self, spark):
        d = spark.createDataFrame([(1, "a b c")], ["id", "text"])
        cheap = d.select(
            "id", F.explode(F.split("text", " ")).alias("tok")
        )
        codes = {f["code"] for f in P.scale_lint(cheap)}
        assert "reinlined_generator_filter" not in codes
