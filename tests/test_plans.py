"""Physical-plan audits (the 100 TB discipline as CI assertions).

Correct results with a bad plan is a failure at scale: these tests pin
pushdown, pruning, broadcast strategy, top-k rewrites, and partial
aggregation so a plan regression is caught while the data is still
small."""

import pytest

from dynamodb_pitr_restore_cdc_spark.plans.explain import (
    codegen_stage_count,
    has_broadcast_join,
    plan_string,
    pushed_filters,
    scan_read_schema,
)
from dynamodb_pitr_restore_cdc_spark.registry import all_queries

SPECS = all_queries()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def get(name):
        return plan_string(SPECS[name].builder(spark, sf_dir))

    return get


def test_scan_prunes_columns_and_pushes_filters(plans):
    p = plans("q_scan_project_filter")
    schema = scan_read_schema(p, "lineitem")
    # 4 needed columns only — not the 11-column full row
    assert "l_orderkey" in schema and "l_extendedprice" in schema
    assert "l_shipdate" not in schema and "l_suppkey" not in schema
    filters = pushed_filters(p, "lineitem")
    assert "l_quantity" in filters and "l_returnflag" in filters


def test_agg_scan_prunes_to_needed_columns(plans):
    p = plans("q_agg_groupby")
    schema = scan_read_schema(p, "lineitem")
    assert "l_orderkey" not in schema and "l_partkey" not in schema
    assert "l_quantity" in schema and "l_tax" in schema
    assert "IsNotNull(l_shipdate)" in pushed_filters(p, "lineitem") or "l_shipdate" in pushed_filters(p, "lineitem")


def test_dim_join_broadcasts(plans):
    assert has_broadcast_join(plans("q_join_broadcast"))


def test_semi_anti_join_shapes(plans):
    # survives as a semi/anti join (not rewritten to inner + distinct)
    assert "Semi" in plans("q_join_semi")
    assert "Anti" in plans("q_join_anti")


def test_theta_range_join_is_not_cartesian(plans):
    p = plans("q_join_theta_range")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_bucketized_range_join_is_equi_shaped(plans):
    # the pure-range join must ride the synthetic bucket equi-key
    p = plans("q_join_range_bucketized")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_topk_per_group_uses_window_group_limit(plans):
    # Spark 3.5+/4.x rewrites rn<=k into WindowGroupLimit: per-partition
    # top-k heaps instead of full group sorts — load-bearing at scale.
    assert "WindowGroupLimit" in plans("q_win_topk_per_group")


def test_global_sort_limit_is_take_ordered(plans):
    # orderBy+limit must plan as TakeOrderedAndProject, never a full sort
    assert "TakeOrderedAndProject" in plans("q_sort_multikey")


def test_groupby_has_partial_aggregation(plans):
    # two HashAggregate phases (partial before the exchange, final after):
    # the shuffle carries one row per group per partition, not per input row
    p = plans("q_agg_groupby")
    assert p.count("HashAggregate") >= 2
    assert "Exchange" in p


def test_cdc_rebuild_stays_jvm_side(plans):
    # (codegen stage ids only appear in executed AQE plans, so assert
    # structure: joins/windows present, zero Python evaluation nodes)
    p = plans("q_cdc_snapshot_rebuild")
    assert "Window" in p
    assert "Join" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_scalar_batteries_have_no_python(plans):
    for q in ("q_str_funcs", "q_date_funcs", "q_math_funcs", "q_json_funcs",
              "q_llm_text_stats", "q_llm_token_count", "q_llm_fingerprint",
              "q_llm_quality_score", "q_llm_lang_id"):
        p = plans(q)
        assert "BatchEvalPython" not in p, q
        assert "ArrowEvalPython" not in p, q


def test_cosine_topk_broadcasts_probe_and_takes_ordered(plans):
    p = plans("q_llm_cosine_topk")
    assert has_broadcast_join(p)
    assert "TakeOrderedAndProject" in p
    # scoring is higher-order functions, not Python
    assert "BatchEvalPython" not in p


def test_tpch_composites_plan_clean(plans):
    # multi-join workloads: no cartesian anywhere, dims broadcast, the
    # fact-side filters reach the lineitem scan, and the top-k queries
    # never materialize a global sort
    for q in ("q_tpch_q3_shipping_priority", "q_tpch_q5_local_supplier",
              "q_tpch_q10_returned_items"):
        p = plans(q)
        assert "CartesianProduct" not in p, q
        assert has_broadcast_join(p), q
    p3 = plans("q_tpch_q3_shipping_priority")
    assert "l_shipdate" in pushed_filters(p3, "lineitem")
    assert "TakeOrderedAndProject" in p3
    p10 = plans("q_tpch_q10_returned_items")
    assert "l_returnflag" in pushed_filters(p10, "lineitem")
    assert "TakeOrderedAndProject" in p10


def test_curation_pipeline_shapes(plans):
    # train/test split must be a map-only projection (no exchange — it
    # fuses into whatever scan runs next); the composed curation
    # pipeline and packing stay entirely JVM-side
    p_split = plans("q_llm_train_test_split")
    assert "Exchange" not in p_split
    for q in ("q_llm_train_test_split", "q_llm_seq_packing", "q_llm_corpus_curation"):
        p = plans(q)
        assert "BatchEvalPython" not in p, q
        assert "ArrowEvalPython" not in p, q


def test_q18_pre_aggregates_before_join(plans):
    # the HAVING subquery must become a pre-aggregated build side: the
    # partial/final agg pair sits BELOW the join tree, no cartesian,
    # and the top-100 is TakeOrdered, never a global sort
    p = plans("q_tpch_q18_large_volume")
    assert "CartesianProduct" not in p
    assert p.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in p


def test_minhash_is_arrow_vectorized(plans, spark, sf_dir):
    # the ONE sanctioned Python stage must be Arrow-batched, never row-wise
    p = plans("q_llm_near_dedup")
    assert "ArrowEvalPython" in p  # candidate verification (jaccard_milli)
    assert "BatchEvalPython" not in p
    # the signature pass itself (materialized via band_buckets) is also Arrow
    from dynamodb_pitr_restore_cdc_spark.llm.dedup import minhash_signature
    from dynamodb_pitr_restore_cdc_spark.sources import table

    sig_plan = plan_string(
        table(spark, sf_dir, "documents").withColumn("sig", minhash_signature("text"))
    )
    assert "ArrowEvalPython" in sig_plan
    assert "BatchEvalPython" not in sig_plan


def test_near_dedup_joins_scan_the_band_artifact(spark, sf_dir):
    # repeat runs must NOT re-run the signature UDF: after the artifact
    # exists, the near-dedup plan's band sides are parquet scans
    from dynamodb_pitr_restore_cdc_spark.llm.dedup import band_buckets

    band_buckets(spark, sf_dir)  # ensure materialized
    p = plan_string(SPECS["q_llm_near_dedup"].builder(spark, sf_dir))
    assert "spark_cdc_engine_sigs" in p  # band sides read the artifact


def test_aqe_skew_join_split_fires(spark):
    # the 100 TB hot-key story is AQE's skew split — prove it actually
    # fires on a skewed SMJ (multi-mapper sides + sub-compression-size
    # threshold; see operators/skew.py for the preconditions)
    from dynamodb_pitr_restore_cdc_spark.operators.skew import (
        SKEW_JOIN_CONFS,
        hot_key_join,
        session_confs,
    )

    with session_confs(spark, SKEW_JOIN_CONFS):
        j = hot_key_join(spark, n_rows=500_000)
        j.collect()
        executed = j._jdf.queryExecution().executedPlan().toString()
    final = executed.split("== Initial Plan ==")[0]
    assert "skew=true" in final, "AQE skew-join split did not fire"
    assert "skewed" in final  # the AQEShuffleRead on the hot side


def test_no_driver_side_materialization_in_source():
    # the engine never funnels table data through the driver: no
    # toPandas()/collect()-over-data in package source. Bounded
    # orchestration collect()s (bucket-id lists, scalar cut points,
    # converged flags) are sanctioned per-file below.
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "dynamodb_pitr_restore_cdc_spark"
    offenders = [
        str(p)
        for p in pkg.rglob("*.py")
        if "toPandas" in p.read_text()
    ]
    assert offenders == [], f"driver-side toPandas() in: {offenders}"


def test_q6_is_pushed_scan_filter_agg(plans):
    # Q6: no join, all three predicates reach the parquet scan, and the
    # projection prunes to the 4 referenced columns
    p = plans("q_tpch_q6_forecast_revenue")
    assert "Join" not in p
    filters = pushed_filters(p, "lineitem")
    assert "l_shipdate" in filters and "l_quantity" in filters
    schema = scan_read_schema(p, "lineitem")
    assert "l_extendedprice" in schema and "l_discount" in schema
    assert "l_orderkey" not in schema and "l_returnflag" not in schema


def test_q14_broadcasts_part_dim(plans):
    p = plans("q_tpch_q14_promo_effect")
    assert has_broadcast_join(p)
    assert "CartesianProduct" not in p
    assert "l_shipdate" in pushed_filters(p, "lineitem")


def test_repetition_filter_is_map_only(plans):
    # Gopher-style repetition stats compute inside the row via JVM
    # higher-order functions: zero shuffles, zero Python — the filter
    # fuses into the scan at any scale
    p = plans("q_llm_repetition_filter")
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_domain_mix_prunes_text_column(plans):
    # mixture sampling never touches document BODIES — the scan must
    # prune to (doc_id, source); reading `text` for a sampling decision
    # would be a 100 TB-scale mistake
    p = plans("q_llm_domain_mix")
    schema = scan_read_schema(p, "documents")
    assert "doc_id" in schema and "source" in schema
    assert "text" not in schema
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_decontaminate_stays_jvm_side(plans):
    p = plans("q_llm_decontaminate")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    # the train side reduces to DISTINCT grams (partial + final agg)
    # before the equijoin
    assert "HashAggregate" in p


def test_domain_cap_uses_window_group_limit(plans):
    # the per-source cap must push top-K below the shuffle (each map
    # task keeps K rows per group), and never read document bodies
    p = plans("q_llm_domain_cap")
    assert "WindowGroupLimit" in p
    schema = scan_read_schema(p, "documents")
    assert "text" not in schema


def test_rarity_score_scans_corpus_once(plans):
    # frequency attaches via a count window over word, not a
    # groupBy+self-join — the join shape would scan the corpus twice
    # (no cross-branch CSE)
    p = plans("q_llm_rarity_score")
    assert "EvalPython" not in p
    assert p.count("InMemoryFileIndex") == 1


def test_chunking_and_quantize_are_map_only(plans):
    # chunk planning and int8 quantization are scan-fused projections:
    # no shuffle, no Python, at any corpus size
    for q in ("q_llm_doc_chunking", "q_llm_embed_quantize"):
        p = plans(q)
        assert "Exchange" not in p, q
        assert "EvalPython" not in p, q


def test_tpch_suite_completion_plans(plans):
    # the 16 round-5 TPC-H shapes: no accidental cartesian products
    # (the deliberate one-row broadcast crossJoins in Q11/Q15/Q22 plan
    # as BroadcastNestedLoopJoin over a single row, never
    # CartesianProduct), and dims broadcast wherever a dim is joined
    for q in (
        "q_tpch_q2_min_cost_supplier", "q_tpch_q4_order_priority",
        "q_tpch_q7_volume_shipping", "q_tpch_q8_market_share",
        "q_tpch_q9_product_profit", "q_tpch_q12_ship_priority_classes",
        "q_tpch_q16_supplier_variety", "q_tpch_q17_small_qty_revenue",
        "q_tpch_q19_disjunctive_revenue", "q_tpch_q20_part_promotion",
        "q_tpch_q21_waiting_supplier",
    ):
        p = plans(q)
        assert "CartesianProduct" not in p, q
        assert has_broadcast_join(p), q


def test_q1_is_pushed_partial_agg(plans):
    # Q1: the date filter reaches the scan, the scan is pruned to the
    # 7 needed columns, and all 6 aggregates partial-aggregate
    # map-side (the shuffle carries <=6 rows per task)
    p = plans("q_tpch_q1_pricing_summary")
    assert "l_shipdate" in pushed_filters(p, "lineitem")
    assert "l_orderkey" not in scan_read_schema(p, "lineitem")
    assert "partial_sum" in p and "partial_count" in p


def test_q4_plans_semi_join_with_residual(plans):
    # Q4's EXISTS stays a semi join (never inner+distinct) and the
    # non-equi lateness predicate rides as the join residual
    p = plans("q_tpch_q4_order_priority")
    assert "LeftSemi" in p
    assert "o_orderdate" in pushed_filters(p, "orders")


def test_q19_factors_the_disjunction_to_both_scans(plans):
    # the OR-of-ANDs must decompose: quantity bands push to the
    # lineitem scan, brand/size bands push to the part scan, and the
    # full disjunction survives as the join residual
    p = plans("q_tpch_q19_disjunctive_revenue")
    assert "l_quantity" in pushed_filters(p, "lineitem")
    # hint must be the file name: bare "part" is a substring of
    # "parquet" and would match the lineitem chunk
    assert "p_brand" in pushed_filters(p, "part.parquet")


def test_q21_is_one_aggregation_not_two_subquery_joins(plans):
    # the EXISTS/NOT-EXISTS pair is computed by a single groupBy over
    # the joined fact (countDistinct x2 + max), then a broadcast
    # supplier attach and a TakeOrderedAndProject top-20 — the fact is
    # scanned once, not three times
    p = plans("q_tpch_q21_waiting_supplier")
    # 3 scans (lineitem, orders, supplier), each named twice in the
    # formatted output (tree node + detail section)
    assert p.count("Scan parquet") <= 6
    assert "TakeOrderedAndProject" in p
    assert has_broadcast_join(p)


def test_paragraph_dedup_explodes_once_no_python(plans):
    # explode -> partial-min winners joined back -> regroup by doc.
    # The block grain backs both join sides through ONE persisted frame
    # (InMemoryRelation), so the corpus parquet is scanned/exploded
    # once per materialization even though the plan tree prints the
    # cached subtree under each reference; no Python anywhere
    p = plans("q_llm_paragraph_dedup")
    assert "EvalPython" not in p
    assert "InMemoryRelation" in p  # the shared block-grain cache


def test_pii_redact_is_map_only(plans):
    # inject + count + redact fuse into the scan projection: no
    # shuffle, no Python, at any corpus size
    p = plans("q_llm_pii_redact")
    assert "Exchange" not in p
    assert "EvalPython" not in p


def test_partitioned_scan_prunes_directories(spark, sf_dir):
    # the year predicate must appear as a PARTITION filter (directory
    # skipping), not merely a pushed row-group filter
    import shutil
    from dynamodb_pitr_restore_cdc_spark.operators.layout import (
        partitioned_scan_plan,
    )

    df, out = partitioned_scan_plan(spark, sf_dir)
    try:
        p = plan_string(df)
        assert "PartitionFilters" in p
        seg = p.split("PartitionFilters", 1)[1].splitlines()[0]
        assert "o_year" in seg, seg
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # matching bucketed layouts: the sort-merge join consumes both
    # bucketed scans directly — zero Exchange anywhere below the join
    from dynamodb_pitr_restore_cdc_spark.operators.layout import bucketed_join

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, sf_dir)
        p = plan_string(joined)
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p[:1500]
        assert "Bucketed: true" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # artifact reuse: a second call must serve the SAME catalog tables
    from dynamodb_pitr_restore_cdc_spark.operators.layout import bucketed_tables

    assert bucketed_tables(spark, sf_dir) == bucketed_tables(spark, sf_dir)


def test_bucketed_dim_join_has_no_exchange(spark, sf_dir):
    # second catalog key (custkey): the customer ⋈ orders co-located
    # join must also consume bucketed scans with zero Exchange, and its
    # layout must be a DIFFERENT catalog entry than the orderkey spec
    from dynamodb_pitr_restore_cdc_spark.operators.layout import (
        bucketed_dim_join,
        bucketed_pair,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_string(bucketed_dim_join(spark, sf_dir))
        assert "SortMergeJoin" in p
        assert "Exchange" not in p, p[:1500]
        assert "Bucketed: true" in p
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    assert set(bucketed_pair(spark, sf_dir, "custkey")).isdisjoint(
        bucketed_pair(spark, sf_dir, "orderkey")
    )


def test_ohlc_is_single_pass_partial_agg(plans):
    # OHLC bars must be ONE aggregation pass (partial + final), never
    # the window/row_number formulation the oracle uses
    p = plans("q_ts_ohlc_bars")
    assert "Window" not in p
    assert p.count("HashAggregate") + p.count("SortAggregate") >= 2
    assert p.count("Scan parquet") <= 2  # one scan (tree + detail)


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    # the year restriction lives ONLY on the dim side: the partitioned
    # fact scan must carry a runtime dynamicpruning expression in its
    # PartitionFilters (directory skipping decided by the dim join)
    import shutil
    from dynamodb_pitr_restore_cdc_spark.operators.layout import dpp_join_plan

    df, out = dpp_join_plan(spark, sf_dir)
    try:
        p = plan_string(df)
        assert "dynamicpruning" in p.lower(), p[:2000]
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_ivfadc_stays_jvm_side_and_broadcasts(plans):
    # the composed ANN: no row-wise or scalar-UDF Python (the one
    # Python stage is the Arrow-batched nearest-cell kernel), the
    # distance table and probe-cell sides broadcast, and the final
    # top-k is TakeOrdered
    p = plans("q_llm_ann_ivfadc")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInArrow" in p
    assert has_broadcast_join(p)
    assert "TakeOrderedAndProject" in p


def test_ivfpq_residual_stays_jvm_side(plans):
    # residual IVFADC: no Python but the Arrow-batched nearest-cell
    # kernel, broadcast dtable/cells, TakeOrdered top-k
    p = plans("q_llm_ann_ivfpq_residual")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "MapInArrow" in p
    assert has_broadcast_join(p)
    assert "TakeOrderedAndProject" in p


def test_shuffle_hash_hint_is_honored(plans):
    # the hint must survive planning: a ShuffledHashJoin node, not
    # SortMergeJoin, and no sort below the join
    p = plans("q_join_shuffle_hash_hint")
    assert "ShuffledHashJoin" in p


def _n_hash_exchanges(p: str) -> int:
    # formatted plans put the partitioning on an Arguments line, one
    # per Exchange node
    return p.count("Arguments: hashpartitioning")


def _n_nodes(p: str, node: str) -> int:
    import re

    return len(re.findall(rf"\(\d+\) {node}\W", p))


def test_behavior_queries_stay_jvm_side_single_shuffle(plans):
    # sessionize: window passes + rollup all on ONE user partitioning
    p = plans("q_ts_sessionize")
    assert "EvalPython" not in p
    assert _n_hash_exchanges(p) == 1
    # anomaly: same single-shuffle window shape
    p = plans("q_ts_anomaly_zscore")
    assert "EvalPython" not in p
    assert _n_hash_exchanges(p) == 1


def test_funnel_has_no_count_distinct_expand(plans):
    # per-user collapse rides the window partitioning: no Expand node,
    # one hash shuffle (plus the single-partition global fold)
    p = plans("q_ts_funnel")
    assert "Expand" not in p
    assert _n_hash_exchanges(p) == 1


def test_moments_is_one_aggregate_pass(plans):
    # all five statistics derive from ONE partial+final hash aggregate
    # over ONE scan
    p = plans("q_agg_stats_moments")
    assert "Window" not in p and "Expand" not in p
    assert _n_hash_exchanges(p) == 1
    assert p.count("Location: InMemoryFileIndex") == 1


def test_bm25_broadcasts_small_sides(plans):
    # df (term-count rows) and corpus stats must broadcast, never shuffle
    p = plans("q_llm_bm25_search")
    assert _n_nodes(p, "BroadcastExchange") >= 2
    assert "TakeOrderedAndProject" in p  # top-k, not global sort


def test_ewma_lags_share_one_window_sort(plans):
    # 21 lag columns must compile into a single Window node over one
    # (user) exchange — not 21 sorts
    p = plans("q_ts_ewma")
    assert "EvalPython" not in p
    assert _n_nodes(p, "Window") == 1
    assert _n_hash_exchanges(p) <= 2  # hourly agg + window


def test_zorder_box_pushes_both_range_predicates(plans):
    from dynamodb_pitr_restore_cdc_spark.plans.explain import pushed_filters

    p = plans("q_scan_zorder_box")
    f = pushed_filters(p, "zorder")
    assert "l_partkey" in f and "l_suppkey" in f


def test_alerting_capstone_is_jvm_only_and_broadcasts_stats(plans):
    # changefeed → anomaly rule → routing must add NO Python stage
    # anywhere (the rule and routing are codegen'd CASE exprs), and the
    # 1-row moments aggregate must come back as a broadcast, never a
    # shuffle, over the feed
    p = plans("q_cdc_alerting")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert has_broadcast_join(p)
    assert "CartesianProduct" not in p


def test_paragraph_dedup_winner_is_agg_join_not_window(plans):
    # the first-copy winner must come from a two-phase hash aggregate
    # (partial min per mapper) + equi-join, NEVER a window over block:
    # a window partition cannot be split, so a viral paragraph would
    # pin one task; the aggregate pre-reduces it map-side and the join
    # is AQE-skew-splittable
    p = plans("q_llm_paragraph_dedup")
    assert "Window" not in p
    assert p.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_paragraph_dedup_partial_min_bounds_viral_block(spark, tmp_path):
    # viral-paragraph property: every doc shares block 0; the partial
    # min must reduce its N copies to <= one row PER MAP TASK before
    # the block shuffle — asserted from executed shuffle metrics, not
    # plan text
    import pyspark.sql.functions as F

    from dynamodb_pitr_restore_cdc_spark.llm.scrub import block_rows
    from dynamodb_pitr_restore_cdc_spark.plans.explain import executed_metrics
    from dynamodb_pitr_restore_cdc_spark.registry import all_queries, release_persisted

    n_docs, m_parts = 600, 8
    viral = " ".join(f"w{i}" for i in range(10))
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(viral + " "),
            F.expr("concat_ws(' ', transform(sequence(0, 9), i -> concat('u', id, 'x', i)))"),
        ).alias("text"),
    )
    blocks = block_rows(docs.repartition(m_parts))
    winners = blocks.groupBy("block").agg(
        F.min(F.col("doc_id") * 1048576 + F.col("block_idx")).alias("winner")
    )
    winners.collect()
    written = [
        v for name, k, v in executed_metrics(winners)
        if name == "Exchange" and k == "shuffleRecordsWritten"
    ]
    assert written, "no shuffle metrics captured"
    # naive (window/no partial agg) would put all 2*n_docs block rows
    # on the wire; partial min caps it at distinct blocks + one viral
    # row per mapper
    assert max(written) <= n_docs + 1 + m_parts
    assert max(written) < 2 * n_docs

    # end-to-end correctness on the same skewed fixture through the
    # registered query (doc 0 keeps both blocks, every other doc keeps
    # only its unique tail)
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = (
        all_queries()["q_llm_paragraph_dedup"]
        .builder(spark, str(tmp_path))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    release_persisted()
    assert (out.n_blocks == 2).all()
    assert out.loc[0, "n_kept"] == 2 and out.loc[0, "dedup_text"].startswith(viral)
    rest = out[out.doc_id > 0]
    assert (rest.n_kept == 1).all()
    assert not rest.dedup_text.str.startswith("w0 ").any()  # viral copy dropped


def test_round6_additions_plan_shapes(plans):
    # rolling median: ONE window over one (user) exchange, no Python
    p = plans("q_ts_rolling_median")
    assert _n_nodes(p, "Window") == 1 and "EvalPython" not in p

    # tolerance as-of: same single-sort union-trick shape as q_join_asof
    p = plans("q_join_asof_tolerance")
    assert _n_nodes(p, "Window") == 1 and "EvalPython" not in p
    assert "Join" not in p  # the tolerance is a filter, never a range join

    # bigram LM: in-row transition comprehension + two-phase aggregates
    # + equi-joins — NO window over a word key (unsplittable under a
    # stopword heavy-hitter; the paragraph-dedup skew rule)
    p = plans("q_llm_bigram_logprob")
    assert "EvalPython" not in p and "Window" not in p
    assert p.count("HashAggregate") >= 2  # partial+final everywhere

    # ANN recall: both top-5 sides are TakeOrdered over broadcast
    # probes — no global sort, no cartesian
    p = plans("q_llm_ann_recall")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "EvalPython" not in p

    # restore drill: restored state + forward replay resolve in one
    # full-outer merge, JVM-side
    p = plans("q_cdc_restore_drill")
    assert "FullOuter" in p and "EvalPython" not in p


def test_branch_merge_single_shuffle(plans):
    # both folds + the diff ride ONE changelog exchange: the window
    # annotates main/branch-latest seq on hashpartitioning(key), and
    # the head fold is a groupBy on the SAME key — Catalyst must reuse
    # the partitioning rather than re-exchange
    p = plans("q_cdc_branch_merge")
    assert "EvalPython" not in p
    assert _n_hash_exchanges(p) == 1, p[:2000]


def test_stream_cusum_batch_plan_shapes(spark, sf_dir):
    # the scoring pass inside the cusum stream: window + carry join +
    # candidate fold must stay JVM-side (the streaming wrapper itself
    # is exercised by parity; this pins the per-batch plan's no-Python
    # property on a representative batch)
    import pyspark.sql.functions as F
    from pyspark.sql import Window as W

    from dynamodb_pitr_restore_cdc_spark.sources import table

    e = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    stats = e.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("vc").alias("s1")
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    scored = (
        e.select("user_id", "us", "vc",
                 F.row_number().over(w).alias("rn"),
                 F.sum("vc").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cs"))
        .join(F.broadcast(stats), "user_id")
    )
    p = plan_string(scored)
    assert "EvalPython" not in p
    assert has_broadcast_join(p)


def test_holt_winters_reuses_one_user_exchange(plans):
    # five window passes (hod seasonal, overall mean, two EWMA lag
    # pulls, the prev-state lag) must share ONE user-level exchange:
    # HashPartitioning(user_id) satisfies the (user_id, hod) clustering
    # too, so the whole smoother is groupBy-shuffle + one reshuffle.
    # A third exchange would mean a window got its own partitioning —
    # the O(passes) shuffle regression this pin exists to catch.
    p = plans("q_ts_holt_winters")
    import re

    n_exchange = len(re.findall(r"\(\d+\) Exchange", p))
    assert n_exchange == 2, p
    assert p.count("Join") == 0  # seasonal index via windows, not self-join
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_meta_real_is_two_arrow_stages_and_prunes_text(plans):
    # the real-codec pipeline: generate (bmp/wav bytes) then parse —
    # exactly two Arrow-vectorized Python stages, never row-at-a-time,
    # and the documents scan must NOT read the wide text column (the
    # generator works from n_chars alone)
    import re

    p = plans("q_mm_meta_real")
    # formatted plans list each node once in the tree and once in the
    # detail section — count the numbered detail entries
    assert len(re.findall(r"\(\d+\) MapInPandas", p)) == 2
    assert "BatchEvalPython" not in p
    schema = scan_read_schema(p, "documents.parquet")
    assert "doc_id" in schema and "n_chars" in schema
    assert "text" not in schema


def test_optimize_plan_output_is_metadata_only(plans):
    # the COMPACT/SKIP decision table is computed from add-action stats
    # on the driver: the RETURNED plan must be a local relation — no
    # table scan, no shuffle, no Python — proving the policy pass reads
    # zero data
    p = plans("q_cdc_optimize_plan")
    assert "Scan parquet" not in p and "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_space_saving_truncation_is_distributed_topk(spark):
    # round-8 review: the per-micro-batch summary truncation must be a
    # TakeOrderedAndProject (per-partition heaps of capacity+1 rows),
    # never a global row_number window — a micro-batch can carry
    # millions of distinct keys, and an unpartitioned Window is a
    # single-reducer sort of all of them every batch.
    from pyspark.sql import functions as F

    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted
    from dynamodb_pitr_restore_cdc_spark.streaming.twins import (
        merge_space_saving,
    )

    summary = spark.range(10).select(
        F.col("id").alias("key"),
        (F.col("id") + 1).alias("est"),
        F.lit(0).alias("err"),
    )
    bcounts = spark.range(20).select(
        F.col("id").alias("key"), (F.col("id") % 5 + 1).alias("bcnt")
    )
    kept, wm = merge_space_saving(summary, bcounts, wm=0, capacity=8)
    p = plan_string(kept)
    assert "TakeOrderedAndProject" in p
    assert "Window" not in p
    assert kept.count() == 8 and wm > 0  # eviction happened, wm derived
    release_persisted()


def test_multiprobe_batches_one_scan_with_group_limit(plans):
    # batched ANN serving: the probe plan must BROADCAST against the
    # inverted lists (the corpus side never shuffles for the join) and
    # per-query top-5 must take the WindowGroupLimit rewrite (map-side
    # 5-per-query pre-reduce), with no Python stage anywhere
    p = plans("q_llm_ann_ivf_multiprobe")
    assert has_broadcast_join(p)
    assert "WindowGroupLimit" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_incremental_manifest_merge_plan_shape(plans):
    # round 12: the maintained manifest's final plan is the kept-rows
    # anti-join UNION the touched-language recompute — the touched-lang
    # set must BROADCAST on both branches (tiny: distinct langs of the
    # batch), the recompute must ride the same window shapes as the
    # capstone tail, and no row-wise Python may appear anywhere in the
    # lineage (the only Arrow stage is the batch's signature pass,
    # which runs inside the ingest, not in this result plan)
    p = plans("q_llm_pack_manifest_incremental")
    assert has_broadcast_join(p)
    assert "Union" in p
    assert "BatchEvalPython" not in p
    assert "CartesianProduct" not in p


def test_dedup_dropset_plan_is_banded_equijoin(plans):
    """q_llm_dedup_dropset (r13): the fixture sits on the plain lane —
    the banded candidate self-join must be an EQUI-join on
    (band, bucket) (never a cartesian), the only Python is the
    Arrow-batched jaccard verify, and the drop projection aggregates
    (distinct), not sorts."""
    p = plans("q_llm_dedup_dropset")
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" in p  # jaccard_milli verify (sanctioned)
    assert "BatchEvalPython" not in p
    # the candidate join keys reach the join, not a post-join filter
    assert "band" in p and "bucket" in p
    assert "HashAggregate" in p  # the drop projection is a distinct, not a sort
    # ...and the plain lane carries NO two-phase machinery: no
    # anti-join (that's the twin's signature, asserted below)
    assert "LeftAnti" not in p


def test_dedup_dropset_twophase_plan_runs_both_phases(plans):
    """q_llm_dedup_dropset_twophase (r14, verdict item 5): the forced
    two-phase lane's plan must PROVABLY execute phase 1 + phase 2 —
    the bucket-minimum aggregate feeding a min-edge verify, and the
    phase-2 anti-joins (undropped docs as the higher side, phase-1
    pairs subtracted). Still no cartesian and no row-wise Python."""
    p = plans("q_llm_dedup_dropset_twophase")
    assert "CartesianProduct" not in p
    assert "ArrowEvalPython" in p  # the sanctioned jaccard verifies
    assert "BatchEvalPython" not in p
    # phase 1: per-(band,bucket) minimum
    assert "min(doc_id" in p
    # phase 2: the two anti-joins (live docs vs phase-1 drops; phase-2
    # candidates minus phase-1 verified edges)
    assert p.count("LeftAnti") >= 2
    # both phases' drop sets union before the final distinct
    assert "Union" in p


def test_ivf_quantizer_is_one_map_side_kernel(spark, sf_dir, plans):
    """The IVF quantizer's three plans (a Lloyd update, the inverted-list
    build, q_llm_ann_ivf's result) run the map-side nearest-cell kernel:
    no SortAggregate (a min(struct(d2, cid)) argmin over the n×K cross
    product plans as one) and no Window anywhere. The update's only
    exchange is its one hash exchange on cid; the list build over the
    training checkpoint has none."""
    import re

    from pyspark.sql import functions as F

    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import (
        _quantized,
        centroid_cells,
        lloyd_means,
    )
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import _ivf_lists
    from dynamodb_pitr_restore_cdc_spark.registry import (
        release_checkpoint,
        tracked_checkpoint,
    )

    corpus = tracked_checkpoint(_quantized(spark, sf_dir, floats=True))
    cells = centroid_cells(
        corpus.where(F.col("vec_id").between(1, 8)).select(
            F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
        )
    )
    update = plan_string(lloyd_means(corpus, cells))
    lists = plan_string(_ivf_lists(corpus, cells))
    release_checkpoint(corpus)
    for name, p in (
        ("update", update),
        ("list build", lists),
        ("q_llm_ann_ivf", plans("q_llm_ann_ivf")),
    ):
        assert "SortAggregate" not in p, name
        assert not re.search(r"\bWindow\b", p), name
    exchanges = re.findall(
        r"^\(\d+\) Exchange\nInput.*\nArguments: (\w+)", update, re.M
    )
    assert exchanges == ["hashpartitioning"], exchanges
    assert "Exchange" not in lists


def test_cold_ann_ivf_job_count(spark, sf_dir, tmp_path):
    """One cold q_llm_ann_ivf (a corpus the session has never indexed:
    training, list build and probe) runs at most 20 Spark jobs — a
    structural count that host noise cannot move (38 with the
    sort-aggregate argmin, per-update re-scans and a windowed probe)."""
    import shutil

    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted

    shutil.copy(f"{sf_dir}/embeddings.parquet", tmp_path / "embeddings.parquet")
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    SPECS["q_llm_ann_ivf"].builder(spark, str(tmp_path)).collect()
    n_jobs = len(set(st.getJobIdsForGroup(None)) - before)
    release_persisted()
    assert n_jobs <= 20, n_jobs


def test_pq_is_the_map_side_kernel(spark, sf_dir, plans):
    """The PQ assign, a codebook update and q_llm_ann_pq run the
    nearest-cell kernel with one cell set per subspace: no SortAggregate
    anywhere (the struct-min argmin planned as one). The assign is one
    map-side MapInArrow with no exchange; the update's only exchange is
    its hash exchange on (m, cid)."""
    import re

    from dynamodb_pitr_restore_cdc_spark.llm.kmeans import lloyd_update
    from dynamodb_pitr_restore_cdc_spark.llm.pq import (
        _books,
        _pq_assign,
        _subvectors,
        pq_codebooks,
    )

    sub = _subvectors(spark, sf_dir).localCheckpoint(eager=True)
    books = pq_codebooks(sub)
    assign = plan_string(_pq_assign(sub, books))
    update = plan_string(lloyd_update(sub, _books(books), "m", "sv"))
    for name, p in (
        ("assign", assign),
        ("update", update),
        ("q_llm_ann_pq", plans("q_llm_ann_pq")),
    ):
        assert "SortAggregate" not in p, name
        assert "MapInArrow" in p, name
        assert "EvalPython" not in p, name
    assert "Exchange" not in assign
    exchanges = re.findall(
        r"^\(\d+\) Exchange\nInput.*\nArguments: (\w+)", update, re.M
    )
    assert exchanges == ["hashpartitioning"], exchanges


def test_quantizer_consumers_warm_job_counts(spark, sf_dir):
    """Warm job counts (the IVF artifact built first) of the quantizer's
    consumers, a structural count that host noise cannot move. Before the probes quantized their own scan rows and PQ
    ran the kernel: q_llm_ann_recall 7, q_llm_ann_ivfadc 25,
    q_llm_ann_ivfpq_residual 25, serving.multiprobe_plan 5 (each paid a
    map-stage job for the spread corpus), q_llm_ann_pq 21. Each probe
    must now run at least one job fewer, and PQ no more."""
    from dynamodb_pitr_restore_cdc_spark.llm.serving import multiprobe_plan
    from dynamodb_pitr_restore_cdc_spark.llm.similarity import _ivf_artifact
    from dynamodb_pitr_restore_cdc_spark.registry import release_persisted

    _ivf_artifact(spark, sf_dir, None)
    st = spark.sparkContext.statusTracker()
    calls = {
        q: (lambda q=q: SPECS[q].builder(spark, sf_dir).collect())
        for q in (
            "q_llm_ann_recall",
            "q_llm_ann_ivfadc",
            "q_llm_ann_ivfpq_residual",
            "q_llm_ann_pq",
        )
    }
    calls["multiprobe_plan"] = lambda: multiprobe_plan(spark, sf_dir).collect()
    got = {}
    for name, call in calls.items():
        before = set(st.getJobIdsForGroup(None))
        call()
        got[name] = len(set(st.getJobIdsForGroup(None)) - before)
    release_persisted()
    limits = {
        "q_llm_ann_recall": 6,
        "q_llm_ann_ivfadc": 24,
        "q_llm_ann_ivfpq_residual": 24,
        "multiprobe_plan": 4,
        "q_llm_ann_pq": 21,
    }
    assert all(got[n] <= limits[n] for n in limits), got
