"""Physical-plan assertions: the plans Catalyst produces for our
queries must be the plans we'd accept on a 1000-executor cluster.
These fail on plan regressions (lost pushdown, join degeneration to
cartesian/BNLJ, Python creeping into a JVM hot path) long before a
benchmark would catch them.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamic_etl_pipeline_spark.catalog import load_table
from dynamic_etl_pipeline_spark.plans import (
    data_sized_nested_loops,
    formatted_plan,
    has_operator,
    pushed_filters,
    python_eval_count,
    read_schema_columns,
)
from dynamic_etl_pipeline_spark.queries import QUERIES


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
    )
    pushed = pushed_filters(df)
    assert any("l_quantity" in p for p in pushed), pushed


def test_column_pruning_reaches_parquet_scan(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    [cols] = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}


def test_q1_scan_prunes_to_needed_columns(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    scans = read_schema_columns(df)
    assert scans, "expected a parquet scan"
    # q1 touches 7 lineitem columns; the 16-column table must not be
    # read in full
    assert all(len(c) <= 8 for c in scans), scans


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    df = QUERIES["q5_local_supplier"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "CartesianProduct")


def test_q3_no_cartesian_and_pushdown(spark, sf_dir):
    df = QUERIES["q3_shipping_priority"](spark, sf_dir)
    assert not has_operator(df, "CartesianProduct")
    assert pushed_filters(df)


def test_topk_plans_as_take_ordered(spark, sf_dir):
    df = QUERIES["order_limit_topk"](spark, sf_dir)
    assert has_operator(df, "TakeOrderedAndProject")


def test_regex_extraction_stays_jvm_side(spark, sf_dir):
    df = QUERIES["extract_patterns_synth"](spark, sf_dir)
    assert python_eval_count(df) == 0, formatted_plan(df)


def test_relational_core_is_python_free(spark, sf_dir):
    for name in ["q1_pricing_summary", "q5_local_supplier",
                 "window_topk_per_group", "events_hourly_rollup",
                 "doc_tf_idf_top", "exact_dedup"]:
        df = QUERIES[name](spark, sf_dir)
        assert python_eval_count(df) == 0, name


def test_range_join_is_equi_not_nested_loop(spark, sf_dir):
    df = QUERIES["range_join_clicks_before_purchase"](spark, sf_dir)
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


def test_knn_broadcasts_queries_not_corpus(spark, sf_dir):
    df = QUERIES["knn_bruteforce"](spark, sf_dir)
    assert has_operator(df, "BroadcastExchange")


def test_lsh_pairs_join_is_equi(spark, sf_dir):
    df = QUERIES["minhash_near_dups"](spark, sf_dir)
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


def test_q21_exists_joins_stay_equi(spark, sf_dir):
    # EXISTS / NOT EXISTS with inequality residuals must still plan as
    # hash/sort-merge semi+anti joins on the orderkey equi component —
    # degeneration to BNLJ would be O(n^2) per order at scale.
    df = QUERIES["q21_waiting_suppliers"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert not has_operator(df, "CartesianProduct")


def test_q19_disjunction_is_broadcast_equi_join(spark, sf_dir):
    df = QUERIES["q19_bracket_revenue"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")
    assert not has_operator(df, "BroadcastNestedLoopJoin")


def test_q4_semi_join_pushes_order_window(spark, sf_dir):
    # the orderdate window predicate must reach the orders parquet scan,
    # not sit above the semi join
    df = QUERIES["q4_order_priority"](spark, sf_dir)
    pushed = pushed_filters(df)
    assert any("o_orderdate" in p for p in pushed), pushed


def test_tpch_battery_is_python_free(spark, sf_dir):
    for name in ["q4_order_priority", "q7_volume_shipping", "q8_market_share",
                 "q9_product_profit", "q10_returned_items",
                 "q13_customer_distribution", "q15_top_supplier",
                 "q17_small_quantity_revenue", "q18_large_volume_customer",
                 "q21_waiting_suppliers", "q22_dormant_customers"]:
        df = QUERIES[name](spark, sf_dir)
        assert python_eval_count(df) == 0, name


def test_analytics_self_joins_stay_equi(spark, sf_dir):
    # basket pairs and blocked ER are the two self-join shapes whose
    # whole scale story is "equi-join on the blocking key, never a
    # cross join" — pin that plan shape.
    for name in ["basket_part_pairs", "part_name_blocked_pairs"]:
        df = QUERIES[name](spark, sf_dir)
        assert not has_operator(df, "BroadcastNestedLoopJoin"), name
        assert not has_operator(df, "CartesianProduct"), name


def test_outlier_stats_frame_broadcasts(spark, sf_dir):
    # the 5-row per-type moments frame must broadcast back onto the
    # event stream (a shuffle join here would re-shuffle the full fact
    # table for a 5-row build side).
    df = QUERIES["events_value_outliers"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")


def test_profile_is_single_scan(spark, sf_dir):
    # the 4-column profile must be ONE aggregate pass over orders, not
    # a union of four scans.
    plan = formatted_plan(QUERIES["profile_orders"](spark, sf_dir))
    # each physical scan contributes exactly one Location: line in the
    # formatted detail section (the operator name itself appears twice:
    # tree + detail)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan


def test_pagerank_year_scope_reaches_scan(spark, sf_dir):
    # the windowed-graph range predicate must prune at the parquet
    # scan (row-group min/max on shipdate), not filter post-read
    pushed = pushed_filters(QUERIES["copurchase_pagerank"](spark, sf_dir))
    assert any(p.startswith("GreaterThanOrEqual(l_shipdate") for p in pushed)
    assert any(p.startswith("LessThan(l_shipdate") for p in pushed)


def test_merge_is_single_equi_outer_join(spark, sf_dir):
    df = QUERIES["merge_orders_upsert"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # one full-outer on the merge key + one anti for the delete pass
    assert "FullOuter" in plan and "LeftAnti" in plan


def test_triangle_joins_stay_equi(spark, sf_dir):
    df = QUERIES["copurchase_triangles"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lateral_decorrelates_to_window_topk(spark, sf_dir):
    df = QUERIES["sql_lateral_top2_orders"](spark, sf_dir)
    plan = formatted_plan(df)
    # per-row subquery re-execution would appear as a nested-loop join;
    # the accepted plan is window group-limit + one equi join
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_pack_sequences_has_no_global_data_window(spark, sf_dir):
    df = QUERIES["corpus_pack_sequences"](spark, sf_dir)
    plan = formatted_plan(df)
    # the doc-sized window must partition by bucket; the only
    # single-partition window allowed is the one-row-per-bucket offsets
    # frame, which is guarded by its own partitionBy(lit) spec
    assert "windowspecdefinition(bucket" in plan


def test_dsir_feature_stats_broadcast(spark, sf_dir):
    # the <=256-row feature-stats frames must broadcast; the only BNLJ
    # allowed is the 1-row totals cross join
    df = QUERIES["corpus_dsir_weights"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0


def test_weighted_sample_is_take_ordered_map_only(spark, sf_dir):
    # A-ES sampling must stay one map projection + TakeOrdered: no
    # window, no global sort, no Python
    df = QUERIES["corpus_weighted_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert python_eval_count(df) == 0


def test_bpe_pairs_top_is_take_ordered(spark, sf_dir):
    df = QUERIES["bpe_merge_pairs"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert python_eval_count(df) == 0


def test_cms_sketch_probe_broadcasts(spark, sf_dir):
    # the fixed-size sketch must broadcast onto the probe stream
    df = QUERIES["word_count_min_sketch"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0


def test_boilerplate_strip_broadcast_map_only_rewrite(spark, sf_dir):
    # boiler-gram set and per-doc hit list broadcast; the rewrite is a
    # higher-order filter — NO position explode/anti-join/re-sort
    # re-aggregation may reappear; no Python anywhere
    df = QUERIES["corpus_boilerplate_strip"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" not in plan          # rewrite is filter-based now
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0


def test_q2_decorrelated_min_take_ordered(spark, sf_dir):
    df = QUERIES["q2_min_cost_supplier"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert python_eval_count(df) == 0


def test_q12_q20_python_free_no_cartesian(spark, sf_dir):
    for name in ("q12_shipmode_priority", "q20_excess_stock_suppliers"):
        df = QUERIES[name](spark, sf_dir)
        plan = formatted_plan(df)
        assert "CartesianProduct" not in plan, name
        assert python_eval_count(df) == 0, name


def test_pit_features_is_single_window_pass_no_join(spark, sf_dir):
    """Three point-in-time features must come from window evaluation
    over one events scan — no self-join, no Python, and only the one
    user_id exchange feeding the sort."""
    from dynamic_etl_pipeline_spark.plans.inspect import exchange_count

    df = QUERIES["events_pit_features"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, "PIT features must not self-join"
    assert python_eval_count(df) == 0
    assert len(read_schema_columns(df)) == 1  # one scan feeds everything
    assert exchange_count(df) == 1  # hash partition on user_id only


def test_bigram_lm_joins_stay_equi_python_free(spark, sf_dir):
    df = QUERIES["doc_bigram_lm_score"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the 1-row vocab frame rides a broadcast nested loop; the model
    # joins themselves must be equi (hash/sort-merge)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan \
        or "BroadcastHashJoin" in plan
    assert python_eval_count(df) == 0


def test_ratio_to_report_single_exchange(spark, sf_dir):
    from dynamic_etl_pipeline_spark.plans.inspect import exchange_count

    df = QUERIES["window_ratio_to_report"](spark, sf_dir)
    assert python_eval_count(df) == 0
    assert exchange_count(df) == 1  # one hash partition on o_custkey


def test_variant_extraction_jvm_only(spark, sf_dir):
    df = QUERIES["events_variant_props"](spark, sf_dir)
    assert python_eval_count(df) == 0


def test_join_hint_forces_sort_merge_over_broadcast(spark, sf_dir):
    """The merge hint must override the size-based broadcast choice;
    the unhinted twin broadcasts at fixture scale."""
    df = QUERIES["join_hint_strategies"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan
    assert "BroadcastHashJoin" not in plan

    from dynamic_etl_pipeline_spark.catalog import load_table as lt
    o = lt(spark, sf_dir, "orders")
    c = lt(spark, sf_dir, "customer")
    unhinted = o.join(c, o.o_custkey == c.c_custkey).groupBy(
        "c_mktsegment").count()
    assert "BroadcastHashJoin" in formatted_plan(unhinted)


def test_plan_stats_explain_broadcast_decision(spark, sf_dir):
    """Catalyst's size estimate must place the broadcast side of the
    star join under the 10 MB threshold and the fact side over the dim
    side — the arithmetic behind test_star_join_broadcasts_dimensions."""
    from dynamic_etl_pipeline_spark.plans.inspect import plan_stats

    nation = load_table(spark, sf_dir, "nation")
    lineitem = load_table(spark, sf_dir, "lineitem")
    n_stats = plan_stats(nation)
    l_stats = plan_stats(lineitem)
    threshold = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
                    .removesuffix("b"))
    assert n_stats["size_bytes"] < threshold
    assert l_stats["size_bytes"] > n_stats["size_bytes"]


# ---------------------------------------------------------------------------
# Round-3 queries: plan shapes that must survive
# ---------------------------------------------------------------------------

def test_vocab_oov_joins_stay_equi_and_jvm(spark, sf_dir):
    df = QUERIES["doc_vocab_oov_rate"](spark, sf_dir)
    assert not has_operator(df, "CartesianProduct")
    assert not has_operator(df, "BroadcastNestedLoopJoin")
    assert python_eval_count(df) == 0, formatted_plan(df)


def test_containment_is_inverted_index_not_cross(spark, sf_dir):
    # asymmetric containment must keep the shingle-keyed equi self-join
    # shape; a doc-level cross join would be O(n^2). The stop-shingle
    # cap's 1-row corpus-count gate is the one permitted BNLJ
    # (data_sized_nested_loops knows to exclude it).
    from dynamic_etl_pipeline_spark.plans import data_sized_nested_loops

    df = QUERIES["doc_ngram_containment_pairs"](spark, sf_dir)
    assert data_sized_nested_loops(df) == 0, formatted_plan(df)
    assert python_eval_count(df) == 0, formatted_plan(df)


def _op_count(df, op: str) -> int:
    """Number of physical operators named ``op`` (counted on the
    numbered detail headers, which list each operator exactly once)."""
    import re

    return len(re.findall(rf"^\(\d+\) {op}\b", formatted_plan(df),
                          flags=re.MULTILINE))


def test_ohlc_two_exchanges_only(spark, sf_dir):
    # both edge ranks share one bucket partitioning: one shuffle for
    # the window stage plus one for the final aggregate, nothing more
    df = QUERIES["events_ohlc_buckets"](spark, sf_dir)
    assert _op_count(df, "Exchange") <= 2, formatted_plan(df)
    assert python_eval_count(df) == 0
    assert not has_operator(df, "CartesianProduct")


def test_token_budget_fill_two_level_windows(spark, sf_dir):
    # r4: the per-source fill runs the two-level prefix sum — exactly
    # two Window ops (bucket-local cumsum + one-row-per-bucket offsets),
    # both with a real partition spec, and still zero Python
    df = QUERIES["corpus_token_budget_fill"](spark, sf_dir)
    plan = formatted_plan(df)
    assert _op_count(df, "Window") == 2, plan
    assert "windowspecdefinition(source" in plan, plan
    assert python_eval_count(df) == 0


def test_minhash_collapse_fast_path_no_expansion_joins(spark):
    # a corpus of pairwise-distinct documents has all-unique signatures,
    # so the fast path must return the plain band-join plan WITHOUT the
    # membership/expansion union (a Union means the slow path ran)
    from dynamic_etl_pipeline_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"totally distinct document number {i} about topic{i} "
             f"with unique{i} trailing words{i}") for i in range(20)],
        ["doc_id", "text"],
    )
    df = minhash_lsh_pairs(docs, "doc_id", "text", udf_partitions=4)
    assert not has_operator(df, "Union"), formatted_plan(df)


def test_round3_new_joins_stay_equi(spark, sf_dir):
    """The round-3 additions must never degenerate to BNLJ/cartesian:
    the decay band self-join has an equi user_id key (rn band is a
    residual), the PPJoin stages are all shingle/doc-keyed equi joins,
    and the JW blocked join is keyed on (p_brand, p_size)."""
    for name in ("events_decay_ewma", "jaccard_prefix_filter_pairs",
                 "part_name_jw_pairs"):
        df = QUERIES[name](spark, sf_dir)
        assert not has_operator(df, "BroadcastNestedLoopJoin"), name
        assert not has_operator(df, "CartesianProduct"), name


def test_day_streaks_single_user_shuffle(spark, sf_dir):
    """Gaps-and-islands runs off one window exchange on user_id; the
    whole query is JVM-side (no Python eval anywhere)."""
    df = QUERIES["events_user_day_streaks"](spark, sf_dir)
    assert python_eval_count(df) == 0
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan


def test_kmeans_exact_assignment_jvm_only_no_cartesian(spark, sf_dir):
    """The exact k-means query must stay whole-stage-JVM: assignment is
    higher-order expressions against centroid literals (no PythonUDF),
    the only join is the broadcast of 8 cluster counts, and nothing
    degenerates to a cartesian/BNLJ."""
    df = QUERIES["embedding_kmeans_exact"](spark, sf_dir)
    plan = formatted_plan(df)
    assert python_eval_count(df) == 0, plan
    assert not has_operator(df, "CartesianProduct"), plan
    assert not has_operator(df, "BroadcastNestedLoopJoin"), plan
    assert "BroadcastHashJoin" in plan, plan


def test_pq_exact_search_jvm_only_equi_join(spark, sf_dir):
    """The integer-exact PQ query's search stage must stay JVM-side
    (codebook literals in codegen, no PythonUDF) and the codes-vs-LUT
    join must be a broadcast equi-join on (sid, code) — never a
    cartesian/BNLJ over the corpus."""
    df = QUERIES["pq_ann_topk_exact"](spark, sf_dir)
    plan = formatted_plan(df)
    assert python_eval_count(df) == 0, plan
    assert not has_operator(df, "CartesianProduct"), plan
    assert not has_operator(df, "BroadcastNestedLoopJoin"), plan
    assert "BroadcastHashJoin" in plan, plan


def test_kmv_sketch_plans_stay_jvm_side_and_equi(spark, sf_dir):
    """Round-7 portable sketch family: all arithmetic (md5 fold, order
    statistics, integer estimates) must compile to JVM expressions —
    zero Python eval — and the only joins are equi/broadcast (the
    events rollup broadcasts its tiny n_days side)."""
    for name in ("agg_distinct_kmv", "events_kmv_sketch_rollup",
                 "agg_quantile_hash_sample"):
        df = QUERIES[name](spark, sf_dir)
        assert python_eval_count(df) == 0, name
        assert not has_operator(df, "CartesianProduct"), name
        assert data_sized_nested_loops(df) == 0, name
    # the theta-overlap pairs frame is a broadcast cross of the tiny
    # |types| dimension (the one sanctioned BNLJ shape) — pin only
    # Python-freedom and no unconditioned cartesian
    df = QUERIES["events_kmv_type_overlap"](spark, sf_dir)
    assert python_eval_count(df) == 0
    assert not has_operator(df, "CartesianProduct")


def test_quantile_two_level_no_data_sized_aggregate_state(spark, sf_dir):
    """r7 verdict item 1: agg_quantile_hash_sample must carry NO exact
    ``percentile`` TypedImperativeAggregate (its final merge holds an
    O(distinct values) map on one reducer) and no unpartitioned
    data-sized window — the quantiles come from the two-level bucketed
    rank (operators/twolevel.py), whose only windows partition by the
    bucket (second scan) or by pmod over the one-row-per-bucket
    offsets frame."""
    df = QUERIES["agg_quantile_hash_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "percentile" not in plan.lower(), "exact percentile crept back"
    assert python_eval_count(df) == 0
    _assert_two_level_window_partitions(plan)


def _assert_two_level_window_partitions(plan: str) -> None:
    """Every window in a two-level-quantile plan must partition by the
    bucket column itself (``_tq_bk#N``) or by a projected alias
    (``_wN#id``) whose definition in the SAME plan is the sanctioned
    constant ``pmod(hash(_tq_bk..), 1)`` over the one-row-per-bucket
    offsets frame. Anchored exact-token matching (ADVICE r8: the old
    substring check would also pass a data-sized partition column that
    merely CONTAINED '_w' or 'pmod')."""
    import re

    sanctioned = set(re.findall(
        r"pmod\(hash\(_tq_bk#\d+L?, \d+\), 1\) AS (_w\d+#\d+)", plan
    ))
    for line in plan.splitlines():
        if "windowspecdefinition(" not in line:
            continue
        first_arg = line.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        ok = (
            re.fullmatch(r"_tq_bk#\d+L?", first_arg)
            or first_arg in sanctioned
        )
        assert ok, f"data-sized window partition: {line.strip()}"


def test_rfm_bucketed_no_data_sized_aggregate_state(spark, sf_dir):
    """r8 verdict item 1: rfm_segments_bucketed's cutpoints (the last
    F.percentile call in non-test code) now come from the two-level
    bucketed rank — no exact percentile TypedImperativeAggregate (its
    merge state is O(|customers|) for the continuous monetary sum), no
    Python, and only bucket/pmod-partitioned windows."""
    df = QUERIES["rfm_segments_bucketed"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "percentile" not in plan.lower(), "exact percentile crept back"
    assert python_eval_count(df) == 0
    _assert_two_level_window_partitions(plan)


def test_kmv_overlap_production_mode_touches_only_sketch_rows(spark, sf_dir):
    """kmv_overlap(check=False) — the 100-TB mode — must read the
    corpus exactly ONCE (inside the materialized sketch's own job):
    the executed final plan downstream of the sketch contains zero
    parquet scans and no exact_inter column (r7 verdict item 4)."""
    from dynamic_etl_pipeline_spark.queries.advanced import kmv_overlap

    e = load_table(spark, sf_dir, "events")
    df = kmv_overlap(e, "event_type", "user_id", check=False)
    assert "exact_inter" not in df.columns
    assert df.count() > 0
    final = (
        df._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert final.count("Scan parquet") == 0, (
        "pairwise stage re-reads the corpus:\n" + final[:2000]
    )


def test_cms_heavy_hitters_sketch_side_broadcasts(spark, sf_dir):
    """word_heavy_hitters_cms probes the fixed 4x256 sketch and the
    1-row total via broadcast — the corpus-sized side never shuffles
    for the join."""
    df = QUERIES["word_heavy_hitters_cms"](spark, sf_dir)
    assert python_eval_count(df) == 0
    assert has_operator(df, "BroadcastExchange")
    assert data_sized_nested_loops(df) == 0


def test_join_theta_rank_has_no_pair_join(spark, sf_dir):
    """r9: the order-statistic theta twin must contain NO
    supplier-x-customer pair join — its only joins are the two-level
    primitive's broadcast offset joins — and no data-sized window
    partition (windows partition by (nation, bucket) / nation over the
    one-row-per-bucket offsets frame)."""
    df = QUERIES["join_theta_rank"](spark, sf_dir)
    plan = formatted_plan(df)
    assert python_eval_count(df) == 0
    assert not has_operator(df, "CartesianProduct")
    assert not has_operator(df, "SortMergeJoin"), "pair join crept back"
    assert not has_operator(df, "ShuffledHashJoin"), "pair join crept back"
    # row-set parity with the pair-enumerating original at fixture scale
    a = set(map(tuple, QUERIES["join_theta"](spark, sf_dir).collect()))
    b = set(map(tuple, df.collect()))
    assert a == b


def test_bnlj_condition_found_beyond_three_lines():
    """ADVICE r5: the plan inspector must parse the whole BNLJ detail
    block, not a 3-line window — a condition further down is not a
    cross join."""
    from dynamic_etl_pipeline_spark.plans.inspect import _nested_loops_in

    plan = """== Physical Plan ==
(1) Scan parquet
Output [2]: [a, b]
Location: file:/x
ReadSchema: struct<a:int>

(2) BroadcastNestedLoopJoin BuildRight, Inner
Left output [1]: [a]
Right output [1]: [b]
Arguments: BuildRight, Inner
Join condition: (_stop_nd > 3)

(3) Project
Output [1]: [a]
"""
    assert _nested_loops_in(plan) == 0  # _stop_nd gate, 4 lines down
    assert _nested_loops_in(plan.replace("_stop_nd", "other_col")) == 1
    assert _nested_loops_in(
        plan.replace("Join condition: (_stop_nd > 3)", "")) == 1
    assert _nested_loops_in(
        plan + "\n(4) CartesianProduct\n") == 1
