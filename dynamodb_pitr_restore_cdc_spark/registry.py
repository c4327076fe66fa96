"""Query registry: one named entry per operator in SURVEY.md §2B.

Each query is a (builder, oracle_sql) pair registered at import time.
`builder(spark, sf_dir) -> DataFrame` is the Spark-native
implementation; `oracle` is the DuckDB-equivalent ANSI SQL (None for
ops that aren't cleanly SQL-expressible — the driver then records a
rows-only check).

Discipline (SURVEY.md §5.2): every computed column is aliased
identically in both dialects; float aggregates are round(_, 2)-ed on
both sides; timestamps leave the engine as epoch-microsecond BIGINTs
(`unix_micros` / `epoch_us`) so value-hashes are representation-stable.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # DuckDB SQL twin; None => rows-only check


_REGISTRY: dict[str, QuerySpec] = {}

# DataFrames persisted inside builders (justified per-site by the
# no-cross-branch-CSE rule). Builders return lazy plans, so the builder
# itself can never unpersist; harnesses call release_persisted() after
# consuming a result so long-lived sessions (bench, parity suite,
# driver rounds) don't accumulate cached RDDs until LRU eviction.
_TRACKED_PERSISTS: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() + record for a later release_persisted()."""
    df = df.persist()
    _TRACKED_PERSISTS.append(df)
    return df


# (df, [JavaRDD handles]) per tracked checkpoint — the df reference
# keeps identity stable for release_checkpoint(df)
_TRACKED_CHECKPOINTS: list = []


def tracked_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint() + record for a later release.

    For iterative builders whose plans would otherwise grow per
    iteration (persist caches data but never truncates the logical
    plan): the checkpoint cuts lineage, and tracking it keeps the
    release contract identical to tracked_persist — the caller must
    consume the result before release_persisted(), since a released
    checkpoint cannot recompute.

    DataFrame.unpersist() cannot free a local checkpoint (the blocks
    are an RDD-level persist, not a CacheManager entry), so the newly
    persisted RDD handles are captured by diffing the context's
    persistent-RDD map around the checkpoint (builders are
    single-threaded, so the diff is exact) and released at the RDD
    level — either early via release_checkpoint(df) for superseded
    iteration state, or at release_persisted()."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    df = df.localCheckpoint(eager=True)
    jmap = jsc.getPersistentRDDs()
    handles = [
        jmap.get(rid) for rid in jmap.keySet().toArray() if rid not in before
    ]
    _TRACKED_CHECKPOINTS.append((df, handles))
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Free ONE tracked checkpoint's blocks early — for iteration state
    that has been superseded and will never be referenced again."""
    for i, (d, handles) in enumerate(_TRACKED_CHECKPOINTS):
        if d is df:
            for h in handles:
                try:
                    h.unpersist()
                except Exception:
                    pass
            _TRACKED_CHECKPOINTS.pop(i)
            return


def release_persisted() -> None:
    """Unpersist every builder-persisted DataFrame recorded so far."""
    while _TRACKED_PERSISTS:
        try:
            _TRACKED_PERSISTS.pop().unpersist()
        except Exception:
            pass  # session may already be gone; releasing is best-effort
    while _TRACKED_CHECKPOINTS:
        _, handles = _TRACKED_CHECKPOINTS.pop()
        for h in handles:
            try:
                h.unpersist()
            except Exception:
                pass


_SIBLING_ROOTS_SWEPT = False


def pid_scoped_root(tag: str) -> str:
    """Per-process tmp artifact root ``spark_cdc_engine_<tag>-<pid>``.

    Pid-scoping (round 11) stops a second process's atexit from
    rmtree-ing a root this process is mid-read on; the cost is that a
    SIGKILL'd or crashed process skips atexit and leaves its sf-scale
    parquet behind forever.  So the first call in a process also
    sweeps SIBLING roots whose owning pid is no longer alive
    (``os.kill(pid, 0)`` probe — EPERM counts as alive, and a reused
    pid just defers the sweep to a later process; round-12 advice).
    Registers an atexit rmtree for the returned root."""
    import atexit
    import errno
    import re
    import shutil
    import tempfile

    global _SIBLING_ROOTS_SWEPT
    tmp = tempfile.gettempdir()
    if not _SIBLING_ROOTS_SWEPT:
        _SIBLING_ROOTS_SWEPT = True
        for entry in os.listdir(tmp):
            m = re.fullmatch(r"spark_cdc_engine_\w+-(\d+)", entry)
            if not m or int(m.group(1)) == os.getpid():
                continue
            try:
                os.kill(int(m.group(1)), 0)
            except OSError as e:
                if e.errno == errno.ESRCH:  # owner is gone: crash debris
                    shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
            except OverflowError:
                # a foreign/malformed dirname whose digits exceed pid_t
                # (os.kill raises OverflowError, not OSError) — this
                # sweep runs at import on a SHARED host /tmp, so one
                # such entry must never crash every engine import
                # (round-12 advice); not ours, leave it alone
                continue
    root = os.path.join(tmp, f"spark_cdc_engine_{tag}-{os.getpid()}")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def register(name: str, oracle: str | None = None) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query registration: {name}")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


# Queries that already have a green row in CORRECTNESS_r01.json.  The
# driver evaluates queries() in dict order and has historically cut off
# after ~50 entries, so queries WITHOUT a prior driver row are surfaced
# first; across rounds the union covers the whole registry.
_DRIVER_VERIFIED_R01: frozenset[str] = frozenset(
    {
        "q_agg_groupby", "q_agg_distinct", "q_agg_approx_distinct",
        "q_agg_hll_merge", "q_agg_having", "q_agg_rollup", "q_agg_cube",
        "q_agg_gsets", "q_cdc_classify", "q_cdc_latest_per_key",
        "q_cdc_snapshot_rebuild", "q_cdc_change_deltas",
        "q_cdc_restore_report", "q_cdc_dedup_content", "q_cdc_dlq_split",
        "q_cdc_batch_count", "q_cdc_attrvalue_roundtrip",
        "q_cdc_envelope_roundtrip", "q_join_inner", "q_join_broadcast",
        "q_join_left", "q_join_full", "q_join_semi", "q_join_anti",
        "q_join_theta_range", "q_join_cross_limited", "q_join_asof",
        "q_pivot_status", "q_unpivot_prices", "q_agg_percentiles",
        "q_agg_collect", "q_subquery_in", "q_subquery_correlated",
        "q_win_pct_rank", "q_scan_project_filter", "q_scan_json_props",
        "q_scan_json_source", "q_sink_roundtrip", "q_sort_multikey",
        "q_set_union_all", "q_set_union_distinct", "q_set_intersect",
        "q_set_except", "q_agg_salted", "q_ts_gapfill_ffill",
        "q_win_rank", "q_win_lag_lead", "q_win_moving_avg",
        "q_win_cumulative", "q_win_ntile_firstlast",
    }
)

# Queries with a green row in CORRECTNESS_r02.json (the round-1
# registry complement of _DRIVER_VERIFIED_R01 — all 50 ran clean).
_DRIVER_VERIFIED_R02: frozenset[str] = frozenset(
    {
        "q_agg_conditional", "q_array_funcs", "q_cdc_bucketed_sink",
        "q_cdc_multi_sink", "q_date_funcs", "q_join_range_bucketized",
        "q_json_funcs", "q_llm_ann_ivf", "q_llm_ann_lsh",
        "q_llm_cosine_topk", "q_llm_dedup_clusters", "q_llm_embed_neardup",
        "q_llm_exact_dedup", "q_llm_fingerprint", "q_llm_jaccard_exact",
        "q_llm_kmeans", "q_llm_lang_id", "q_llm_lang_topwords",
        "q_llm_near_dedup", "q_llm_ngram_profile", "q_llm_quality_score",
        "q_llm_simhash", "q_llm_simhash_pairs", "q_llm_text_stats",
        "q_llm_tfidf_search", "q_llm_token_count", "q_map_funcs",
        "q_math_funcs", "q_mm_frame_sample", "q_mm_meta_extract",
        "q_mm_resize_plan", "q_null_funcs", "q_str_funcs", "q_str_funcs2",
        "q_stream_complete_mode", "q_stream_dedup",
        "q_stream_foreachbatch_cdc", "q_stream_interval_join",
        "q_stream_session", "q_stream_sliding", "q_stream_stateful_sessions",
        "q_stream_stateful_totals", "q_stream_static_join",
        "q_stream_tumbling", "q_stream_watermark_late",
        "q_tpch_q10_returned_items", "q_tpch_q3_shipping_priority",
        "q_tpch_q5_local_supplier", "q_win_range_numeric",
        "q_win_topk_per_group",
    }
)


# Queries whose implementation materially changed in round 3 (shared
# minhash signature store, trained-kmeans IVF quantizer, tracked
# persists, redrive durability): surfaced for driver RE-verification
# right after the never-checked tier, because the local parity suite is
# otherwise their only guard.
_REVERIFY_R03: frozenset[str] = frozenset(
    {
        "q_llm_near_dedup", "q_llm_dedup_clusters", "q_llm_jaccard_exact",
        "q_llm_simhash_pairs", "q_llm_ann_ivf", "q_llm_embed_neardup",
        "q_llm_kmeans", "q_scan_json_source", "q_sink_roundtrip",
        # streaming queries whose result-cache handling moved to
        # tracked_persist this round
        "q_stream_tumbling", "q_stream_dedup", "q_stream_foreachbatch_cdc",
        "q_cdc_multi_sink", "q_cdc_bucketed_sink", "q_stream_static_join",
        "q_stream_interval_join", "q_stream_complete_mode",
        "q_stream_stateful_totals", "q_stream_stateful_sessions",
    }
)

# Queries with a green row in CORRECTNESS_r03.json (round-3 additions
# plus the _REVERIFY_R03 re-checks that ran clean).
_DRIVER_VERIFIED_R03: frozenset[str] = frozenset(
    {
        "q_scan_csv_source", "q_tpch_q18_large_volume",
        "q_llm_train_test_split", "q_llm_seq_packing",
        "q_llm_corpus_curation", "q_mm_media_curation",
        "q_cdc_control_filter", "q_cdc_dlq_redrive",
        "q_cdc_sink_compaction", "q_stream_near_dedup",
        "q_scan_json_source", "q_sink_roundtrip", "q_llm_near_dedup",
        "q_llm_jaccard_exact", "q_llm_simhash_pairs",
        "q_llm_dedup_clusters", "q_llm_kmeans", "q_llm_ann_ivf",
        "q_llm_embed_neardup", "q_stream_foreachbatch_cdc",
        "q_cdc_multi_sink", "q_cdc_bucketed_sink",
        "q_stream_stateful_totals",
    }
)

# Round-3 regressions: these six FAILED their r03 driver check
# (TIMESTAMP_NTZ fixture reads under the driver's vanilla session,
# fixed in sources/fixtures.py this round) and must surface for a green
# row before anything already verified.
_REVERIFY_R04: frozenset[str] = frozenset(
    {
        "q_stream_tumbling", "q_stream_dedup", "q_stream_complete_mode",
        "q_stream_static_join", "q_stream_interval_join",
        "q_stream_stateful_sessions",
    }
)

# Queries with a green row in CORRECTNESS_r04.json (the 17 round-4
# additions, the 6 _REVERIFY_R04 regression re-checks, and 27 rotated
# re-verifications — all clean).
_DRIVER_VERIFIED_R04: frozenset[str] = frozenset(
    {
        "q_agg_approx_distinct", "q_agg_cube", "q_agg_distinct",
        "q_agg_groupby", "q_agg_gsets", "q_agg_having", "q_agg_hll_merge",
        "q_agg_rollup", "q_cdc_attrvalue_roundtrip", "q_cdc_batch_count",
        "q_cdc_change_deltas", "q_cdc_changefeed", "q_cdc_classify",
        "q_cdc_dedup_content", "q_cdc_dlq_split", "q_cdc_envelope_roundtrip",
        "q_cdc_incremental_agg", "q_cdc_latest_per_key",
        "q_cdc_restore_asof_ts", "q_cdc_restore_report",
        "q_cdc_schema_evolution", "q_cdc_snapshot_rebuild",
        "q_cdc_time_travel", "q_join_anti", "q_join_asof",
        "q_join_broadcast", "q_join_cross_limited", "q_join_full",
        "q_join_inner", "q_join_left", "q_join_semi", "q_join_theta_range",
        "q_llm_decontaminate", "q_llm_doc_chunking", "q_llm_domain_cap",
        "q_llm_domain_mix", "q_llm_embed_quantize", "q_llm_rarity_score",
        "q_llm_repetition_filter", "q_pivot_status", "q_scan_orc_source",
        "q_stream_complete_mode", "q_stream_dedup", "q_stream_interval_join",
        "q_stream_stateful_sessions", "q_stream_static_join",
        "q_stream_tumbling", "q_stream_versioned_sink",
        "q_tpch_q14_promo_effect", "q_tpch_q6_forecast_revenue",
    }
)

# Queries with a green row in CORRECTNESS_r05.json (the round-5
# additions — 50/50 hash-match). The 53-entry r5 surface consumed the
# whole driver window, so the _REVERIFY_R05 set below never got its
# re-check rows; round 6 fronts them.
_DRIVER_VERIFIED_R05: frozenset[str] = frozenset(
    {
        "q_agg_stats_moments", "q_agg_histogram", "q_agg_mode",
        "q_agg_weighted_avg", "q_ts_sessionize", "q_ts_funnel",
        "q_ts_cohort_retention", "q_ts_interpolate_linear",
        "q_ts_anomaly_zscore", "q_ts_seasonal_profile",
        "q_cdc_scd2_history", "q_join_shuffle_hash_hint",
        "q_scan_partitioned_source", "q_join_bucketed_colocated",
        "q_join_bucketed_dim", "q_join_dynamic_partition_pruning",
        "q_scan_zorder_box", "q_dq_constraint_report",
        "q_set_intersect_all", "q_set_except_all", "q_ts_ohlc_bars",
        "q_ts_ewma", "q_ts_cusum_changepoint", "q_ts_autocorr",
        "q_win_cume_dist", "q_tpch_q1_pricing_summary",
        "q_tpch_q2_min_cost_supplier", "q_tpch_q4_order_priority",
        "q_tpch_q7_volume_shipping", "q_tpch_q8_market_share",
        "q_tpch_q9_product_profit", "q_tpch_q11_important_stock",
        "q_tpch_q12_ship_priority_classes",
        "q_tpch_q13_customer_distribution", "q_tpch_q15_top_supplier",
        "q_tpch_q16_supplier_variety", "q_tpch_q17_small_qty_revenue",
        "q_tpch_q19_disjunctive_revenue", "q_tpch_q20_part_promotion",
        "q_tpch_q21_waiting_supplier", "q_tpch_q22_sales_opportunity",
        "q_llm_unigram_logprob", "q_llm_leakage_audit", "q_llm_ann_pq",
        "q_emb_quality_report", "q_llm_ann_ivfadc",
        "q_llm_ann_ivfpq_residual", "q_llm_bm25_search",
        "q_llm_paragraph_dedup", "q_llm_pii_redact",
    }
)

# Queries needing driver RE-verification in round 6, fronted right
# after the never-checked tier (local parity is otherwise their only
# guard):
#  - the round-5 rewrites that never got a driver row (the 53-query r5
#    surface crowded them out of the 50-entry window): CAS commit
#    protocol + sharded manifests (versioned sink family), repetition
#    filter run-length rewrite, domain_mix unbounded suffix,
#    byte-gated decontamination bloom, stateful-sessions chunk-concat
#    fix, tfidf persist;
#  - q_stream_sliding: its oracle landed in r5, AFTER its only driver
#    row (r2) — the Expand-×4 rewrite has never been hash-verified;
#  - round-6 changes: interpolate's hourly persist, the
#    rounded-threshold oracle fix in near_dedup + leakage_audit, and
#    the newly-oracled ann_lsh / sink_roundtrip entries.
_REVERIFY_R06: frozenset[str] = frozenset(
    {
        "q_cdc_time_travel", "q_stream_versioned_sink", "q_cdc_changefeed",
        "q_cdc_incremental_agg", "q_llm_repetition_filter",
        "q_llm_domain_mix", "q_llm_decontaminate",
        "q_stream_stateful_sessions", "q_llm_tfidf_search",
        "q_stream_sliding",
        "q_ts_interpolate_linear", "q_llm_near_dedup",
        "q_llm_leakage_audit", "q_llm_ann_lsh", "q_sink_roundtrip",
        "q_stream_watermark_late",
        # round-6 skew rewrite: window-min → partial-agg + join
        "q_llm_paragraph_dedup",
        # round-6 review fixes: struct-carried as-of match (NULL-value
        # consistency with the ASOF oracle) and the linearized tfidf
        "q_join_asof",
        # round-6 cont.: connected_components lineage cut (the
        # exponential-plan OOM fix) re-implements the CC interior
        "q_llm_dedup_clusters",
        # round-6 cont. #3: resume pointers now atomic (tmp+fsync+rename)
        # in the redrive store and run_cdc_apply — crash machinery only,
        # but the impl changed, so the driver re-checks
        "q_cdc_dlq_redrive", "q_stream_foreachbatch_cdc",
    }
)

# Queries with a green row in CORRECTNESS_r06.json (50/50 hash-match:
# the r5/r6 additions that had never been driver-checked plus the whole
# _REVERIFY_R06 set — every registered query now has a green driver row
# in the union of r01–r06).
_DRIVER_VERIFIED_R06: frozenset[str] = frozenset(
    {
        "q_join_asof_tolerance", "q_ts_rolling_median",
        "q_ts_forecast_backtest", "q_ts_stl_decompose", "q_ts_holt_winters",
        "q_win_trailing_hour", "q_llm_dedup_report", "q_llm_ann_recall",
        "q_stream_semantic_neardup", "q_llm_semantic_dedup",
        "q_llm_length_percentiles", "q_llm_vocab_growth",
        "q_llm_token_budget_sample", "q_llm_bigram_logprob",
        "q_stream_paragraph_dedup", "q_cdc_point_lookup", "q_cdc_alerting",
        "q_cdc_restore_drill", "q_cdc_branch_merge", "q_cdc_history",
        "q_cdc_delta_log_fold", "q_stream_anomaly", "q_stream_sessionize",
        "q_stream_anomaly_zscore", "q_stream_alert_routing",
        "q_stream_ewma", "q_stream_cusum", "q_stream_holt_winters",
        "q_ts_interpolate_linear", "q_join_asof", "q_sink_roundtrip",
        "q_llm_near_dedup", "q_llm_dedup_clusters", "q_llm_ann_lsh",
        "q_llm_decontaminate", "q_llm_domain_mix", "q_llm_repetition_filter",
        "q_llm_leakage_audit", "q_llm_tfidf_search", "q_llm_paragraph_dedup",
        "q_cdc_time_travel", "q_stream_versioned_sink", "q_cdc_changefeed",
        "q_cdc_incremental_agg", "q_cdc_dlq_redrive", "q_stream_sliding",
        "q_stream_watermark_late", "q_stream_foreachbatch_cdc",
        "q_stream_stateful_sessions", "q_unpivot_prices",
    }
)

# Queries whose implementation or oracle text changes in round 7 —
# fronted right after the never-checked tier so the driver re-verifies
# them (local parity is otherwise their only guard). Round 7's new
# surface (the Iceberg-shaped log, the optimize-policy query, the
# heavy-hitters twin, the real-codec media probe) is all NEW
# registrations entering through the never-checked tier; the
# re-checks are the Delta fold, whose sink grew the merge-on-read lane
# (visible/apply_batch/compact now route through the mor-aware
# _fold_adds — behavior-neutral for copy-on-write tables, but the impl
# changed), and the interpolate query, whose shared-branch
# materialization moved from persist to localCheckpoint (the
# dispersion-watch fix).
_REVERIFY_R07: frozenset[str] = frozenset(
    {"q_cdc_delta_log_fold", "q_ts_interpolate_linear"}
)

# Queries with a green driver row in CORRECTNESS_r07.json AND (the
# identical window, byte-for-byte) CORRECTNESS_r08.json — 49/50
# hash-match plus q_llm_simhash's documented rows-only slot.  Round 8
# shipped no commits, so the rotation state never advanced and the r08
# run re-verified this exact set; recording it here is what lets the
# r09 ordering front the r02/r03 evidence tail instead of burning the
# window on these 50 a third time (round-8 verdict, item 2).
_DRIVER_VERIFIED_R07: frozenset[str] = frozenset(
    {
        "q_agg_collect", "q_agg_conditional", "q_agg_percentiles",
        "q_agg_salted", "q_array_funcs", "q_cdc_delta_log_fold",
        "q_cdc_iceberg_log_fold", "q_cdc_optimize_plan", "q_date_funcs",
        "q_join_range_bucketized", "q_json_funcs", "q_llm_cosine_topk",
        "q_llm_exact_dedup", "q_llm_fingerprint", "q_llm_lang_id",
        "q_llm_lang_topwords", "q_llm_quality_score", "q_llm_simhash",
        "q_llm_text_stats", "q_llm_token_count", "q_map_funcs",
        "q_math_funcs", "q_mm_meta_real", "q_null_funcs",
        "q_scan_json_props", "q_scan_project_filter", "q_set_except",
        "q_set_intersect", "q_set_union_all", "q_set_union_distinct",
        "q_sort_multikey", "q_str_funcs", "q_str_funcs2",
        "q_stream_heavy_hitters", "q_stream_mor_ingest",
        "q_subquery_correlated", "q_subquery_in",
        "q_tpch_q10_returned_items", "q_tpch_q3_shipping_priority",
        "q_tpch_q5_local_supplier", "q_ts_gapfill_ffill",
        "q_ts_interpolate_linear", "q_win_cumulative", "q_win_lag_lead",
        "q_win_moving_avg", "q_win_ntile_firstlast", "q_win_pct_rank",
        "q_win_range_numeric", "q_win_rank", "q_win_topk_per_group",
    }
)

# Queries with a green driver row in CORRECTNESS_r09.json — the round
# that fronted the stale r02/r03 tail plus every defect-touched entry
# (MOR tombstone fix, Iceberg merge key/grace, heavy-hitters replan,
# the new Iceberg MOR lane).  50/50 hash-match.
_DRIVER_VERIFIED_R09: frozenset[str] = frozenset(
    {
        "q_agg_cube", "q_agg_distinct", "q_agg_groupby", "q_agg_gsets",
        "q_agg_having", "q_agg_rollup", "q_cdc_attrvalue_roundtrip",
        "q_cdc_batch_count", "q_cdc_bucketed_sink",
        "q_cdc_change_deltas", "q_cdc_classify", "q_cdc_control_filter",
        "q_cdc_dedup_content", "q_cdc_delta_log_fold",
        "q_cdc_dlq_split", "q_cdc_envelope_roundtrip",
        "q_cdc_iceberg_log_fold", "q_cdc_iceberg_mor_fold",
        "q_cdc_iceberg_optimize_plan", "q_cdc_latest_per_key",
        "q_cdc_multi_sink", "q_cdc_optimize_plan",
        "q_cdc_restore_asof_ts", "q_cdc_restore_report",
        "q_cdc_schema_evolution", "q_cdc_sink_compaction",
        "q_cdc_snapshot_rebuild", "q_join_broadcast", "q_join_inner",
        "q_llm_ann_ivf", "q_llm_corpus_curation", "q_llm_embed_neardup",
        "q_llm_jaccard_exact", "q_llm_kmeans", "q_llm_ngram_profile",
        "q_llm_seq_packing", "q_llm_train_test_split",
        "q_mm_frame_sample", "q_mm_media_curation", "q_mm_meta_extract",
        "q_mm_resize_plan", "q_scan_csv_source", "q_scan_json_source",
        "q_stream_heavy_hitters", "q_stream_mor_ingest",
        "q_stream_mor_ingest_iceberg", "q_stream_near_dedup",
        "q_stream_session", "q_stream_stateful_totals",
        "q_tpch_q18_large_volume",
    }
)

# Queries whose implementation or oracle changes in round 10 — the
# table-format schema-evolution commits and the Iceberg
# rewrite-manifests analog touch both log sinks' commit/fold paths, so
# every query routed through those sinks is fronted for driver
# re-verification (local parity is otherwise their only guard).
_REVERIFY_R10: frozenset[str] = frozenset(
    {
        "q_cdc_delta_log_fold", "q_cdc_optimize_plan",
        "q_cdc_iceberg_log_fold", "q_cdc_iceberg_mor_fold",
        "q_cdc_iceberg_optimize_plan", "q_stream_mor_ingest",
        "q_stream_mor_ingest_iceberg",
        # oracle text rewritten onto the shared shingle_pair_ctes
        # template (same semantics, but the hash must re-prove it) and
        # the band pipeline now derives from band_array
        "q_llm_near_dedup", "q_stream_near_dedup",
        # changefeed consumers: diff_states grew payload-cols/key
        # passthrough (default output unchanged; re-prove it)
        "q_cdc_changefeed", "q_cdc_alerting",
        # recall stage factored into _bm25_scored + shared oracle CTEs
        "q_llm_bm25_search",
        # probe tail factored into similarity.ivf_probe_tail_sql /
        # ivf_probe_topk (one text with the IVF index drill)
        "q_llm_ann_ivf",
    }
)

# Queries with a green driver row in CORRECTNESS_r10.json — 50/50
# hash-match: the 9 new round-10 queries (index maintenance, schema
# evolution, reranker, contamination report), the whole _REVERIFY_R10
# set, and the r04 cohort that sat at the age-5 ceiling.
_DRIVER_VERIFIED_R10: frozenset[str] = frozenset(
    {
        "q_agg_histogram", "q_agg_mode", "q_agg_stats_moments",
        "q_agg_weighted_avg", "q_cdc_alerting", "q_cdc_changefeed",
        "q_cdc_delta_log_fold", "q_cdc_delta_schema_evolution",
        "q_cdc_iceberg_log_fold", "q_cdc_iceberg_mor_fold",
        "q_cdc_iceberg_optimize_plan", "q_cdc_iceberg_schema_evolution",
        "q_cdc_optimize_plan", "q_join_anti", "q_join_cross_limited",
        "q_join_full", "q_join_left", "q_join_semi", "q_join_theta_range",
        "q_llm_ann_ivf", "q_llm_bm25_search", "q_llm_contamination_report",
        "q_llm_doc_chunking", "q_llm_domain_cap", "q_llm_embed_quantize",
        "q_llm_ivf_index_maintenance", "q_llm_lsh_index_delta_pairs",
        "q_llm_lsh_index_maintenance", "q_llm_near_dedup",
        "q_llm_rarity_score", "q_llm_rerank_crossfeat", "q_pivot_status",
        "q_scan_orc_source", "q_stream_complete_mode", "q_stream_dedup",
        "q_stream_interval_join", "q_stream_lsh_index_ingest",
        "q_stream_mor_ingest", "q_stream_mor_ingest_iceberg",
        "q_stream_near_dedup", "q_stream_schema_evolution",
        "q_stream_static_join", "q_stream_tumbling",
        "q_tpch_q14_promo_effect", "q_tpch_q6_forecast_revenue",
        "q_ts_anomaly_zscore", "q_ts_cohort_retention", "q_ts_funnel",
        "q_ts_seasonal_profile", "q_ts_sessionize",
    }
)

# Queries whose implementation or oracle changes in round 11 — fronted
# for driver re-verification that round (historical; the ordering reads
# only the newest _REVERIFY_* set, now _REVERIFY_R12 below, which
# discharges the r11 note about the late-refactored curation queries).
_REVERIFY_R11: frozenset[str] = frozenset(
    {
        # zorder_layout write made deterministic (explicit bucket-id
        # bounds instead of sampled repartitionByRange) — the layout
        # under q_scan_zorder_box changed (it is in the r05 rotation
        # anyway, but the impl change is the stronger reason)
        "q_scan_zorder_box",
        # optimize_plan grew a REPACK decision (manifest-fragmentation
        # pricing) — the Iceberg policy query's output logic changed
        "q_cdc_iceberg_optimize_plan",
        # the shared MOR ingest drill now applies the REPACK decision
        # (rewrite_manifests) when the plan prices one — outputs are
        # provably unchanged (metadata-only commit), but the lifecycle
        # the queries execute changed, so the driver re-proves them
        "q_stream_mor_ingest", "q_stream_mor_ingest_iceberg",
        "q_llm_ann_ivf", "q_llm_kmeans",
        "q_llm_ann_ivf_multiprobe", "q_llm_ann_ivf_filtered",
        "q_llm_embed_neardup", "q_llm_ann_recall",
        "q_stream_semantic_neardup", "q_llm_ann_ivfadc",
        "q_llm_ann_ivfpq_residual",
    }
)

# One-shot (round 11): rows-only entries whose driver evidence is three
# eras old (simhash_pairs r03; approx_distinct/hll_merge r04) get ONE
# window slot each to refresh their `spark_rows`, per the round-10
# verdict item 3.  They are placed in the recheck tier for THIS round
# only — rule 4 below otherwise keeps them out of the window forever.
# SELF-EXPIRING: the fronting applies only while `rounds` has exactly
# _FRONT_ROWS_ONLY_WHILE_N_ROUNDS recorded sets — the moment round 12
# appends _DRIVER_VERIFIED_R11, it lapses automatically (a stale
# "one-shot" set would otherwise keep burning 4 hash-verifiable window
# slots every round; round-11 review finding).
_FRONT_ROWS_ONLY_R11: frozenset[str] = frozenset(
    {
        "q_agg_approx_distinct", "q_agg_hll_merge",
        "q_llm_simhash", "q_llm_simhash_pairs",
    }
)
_FRONT_ROWS_ONLY_WHILE_N_ROUNDS = 9  # R01-R07, R09, R10 recorded

# Queries with a driver row in CORRECTNESS_r11.json — 46/46 oracled
# hash-matches (the 6 new round-11 queries, the rotated r05 cohort:
# all 16 remaining TPC-H shapes, the layout-evidence join family, the
# PQ/IVFADC ANN family, scd2/set-all/ts-batch/reports) plus the 4
# rows-only refreshes fronted one-shot by _FRONT_ROWS_ONLY_R11.
_DRIVER_VERIFIED_R11: frozenset[str] = frozenset(
    {
        "q_agg_approx_distinct", "q_agg_hll_merge",
        "q_cdc_iceberg_optimize_plan", "q_cdc_scd2_history",
        "q_dq_constraint_report", "q_emb_quality_report",
        "q_join_bucketed_colocated", "q_join_bucketed_dim",
        "q_join_dynamic_partition_pruning", "q_join_shuffle_hash_hint",
        "q_llm_ann_ivf_multiprobe", "q_llm_ann_ivfadc",
        "q_llm_ann_ivfpq_residual", "q_llm_ann_pq", "q_llm_corpus_build",
        "q_llm_lsh_index_compaction", "q_llm_pii_redact", "q_llm_simhash",
        "q_llm_simhash_pairs", "q_llm_unigram_logprob",
        "q_scan_partitioned_source", "q_scan_zorder_box",
        "q_set_except_all", "q_set_intersect_all", "q_stream_corpus_build",
        "q_stream_decontaminate", "q_stream_ivf_index_ingest",
        "q_stream_mor_ingest", "q_stream_mor_ingest_iceberg",
        "q_tpch_q11_important_stock", "q_tpch_q12_ship_priority_classes",
        "q_tpch_q13_customer_distribution", "q_tpch_q15_top_supplier",
        "q_tpch_q16_supplier_variety", "q_tpch_q17_small_qty_revenue",
        "q_tpch_q19_disjunctive_revenue", "q_tpch_q1_pricing_summary",
        "q_tpch_q20_part_promotion", "q_tpch_q21_waiting_supplier",
        "q_tpch_q22_sales_opportunity", "q_tpch_q2_min_cost_supplier",
        "q_tpch_q4_order_priority", "q_tpch_q7_volume_shipping",
        "q_tpch_q8_market_share", "q_tpch_q9_product_profit",
        "q_ts_autocorr", "q_ts_cusum_changepoint", "q_ts_ewma",
        "q_ts_ohlc_bars", "q_win_cume_dist",
    }
)

# Queries fronted for driver re-verification in round 12: the three
# curation queries refactored onto the shared helpers (five_grams /
# quality_exact_dedup / QUALITY_DEDUP_CTES, commit 76078c7) AFTER the
# r11 window froze — their newest driver rows (r10) verify code that no
# longer exists.  Local parity re-proved them at two SFs; this seeds
# the hard driver signal (r11 verdict, item 2).  Plus the Iceberg
# maintenance-policy query, whose REPACK trigger (and its verbatim
# oracle mirror) moved to the round-12 hysteresis cost model — the
# fixture's decision is unchanged (the init monolith fires the
# immediate-payback rule under both models) but the changed text must
# be driver-hashed.  The two streaming MOR drills execute the same
# trigger yet keep an IDENTICAL lifecycle (one post-ingest repack fires
# under both models — asserted by local parity at two SFs) and hold
# age-0 r11 rows, so they stay out of this window; the 45-query age-5
# rotation leaves no slack for re-proving provably-unchanged behavior.
_REVERIFY_R12: frozenset[str] = frozenset(
    {
        "q_llm_corpus_curation", "q_llm_decontaminate",
        "q_llm_contamination_report", "q_cdc_iceberg_optimize_plan",
    }
)

# Queries with a driver row in CORRECTNESS_r12.json — 49/50 oracled
# hash-matches (the 45-query age-5 r06 cohort rotation, the 4
# _REVERIFY_R12 seeds, and the new incremental-manifest query).  The
# 50th, q_cdc_history, CRASHED (FileNotFoundError) because
# q_cdc_time_travel — 6 window slots earlier in the same driver
# session — expired v1 of the session-shared sink artifact history
# still reads; it is deliberately NOT in this set (its newest row is a
# crash, not evidence) and is seeded in _REVERIFY_R13 together with
# the fixed time_travel.
_DRIVER_VERIFIED_R12: frozenset[str] = frozenset(
    {
        "q_cdc_branch_merge", "q_cdc_dlq_redrive",
        "q_cdc_iceberg_optimize_plan", "q_cdc_incremental_agg",
        "q_cdc_point_lookup", "q_cdc_restore_drill", "q_cdc_time_travel",
        "q_join_asof", "q_join_asof_tolerance", "q_llm_ann_lsh",
        "q_llm_ann_recall", "q_llm_bigram_logprob",
        "q_llm_contamination_report", "q_llm_corpus_curation",
        "q_llm_decontaminate", "q_llm_dedup_clusters", "q_llm_dedup_report",
        "q_llm_domain_mix", "q_llm_leakage_audit", "q_llm_length_percentiles",
        "q_llm_pack_manifest_incremental", "q_llm_paragraph_dedup",
        "q_llm_repetition_filter", "q_llm_semantic_dedup",
        "q_llm_tfidf_search", "q_llm_token_budget_sample",
        "q_llm_vocab_growth", "q_sink_roundtrip", "q_stream_alert_routing",
        "q_stream_anomaly", "q_stream_anomaly_zscore", "q_stream_cusum",
        "q_stream_ewma", "q_stream_foreachbatch_cdc", "q_stream_holt_winters",
        "q_stream_paragraph_dedup", "q_stream_semantic_neardup",
        "q_stream_sessionize", "q_stream_sliding",
        "q_stream_stateful_sessions", "q_stream_versioned_sink",
        "q_stream_watermark_late", "q_ts_forecast_backtest",
        "q_ts_holt_winters", "q_ts_interpolate_linear", "q_ts_rolling_median",
        "q_ts_stl_decompose", "q_unpivot_prices", "q_win_trailing_hour",
    }
)

# Queries fronted for driver re-verification in round 13 (r12 verdict,
# item 1): the shared-sink mutation fix.  q_cdc_history is the r12 red
# row (its last GREEN hash is r06 — six rounds stale AND superseded by
# a crash); q_cdc_time_travel's builder text changed (the expire now
# runs on a private hardlink clone via expired_shared_sink, never on
# the session-shared artifact).  Both must be re-proven at the driver,
# in the window order that crashed r12 (time_travel fronts first by
# registration order — versioned_sink.py registers it before history).
# q_llm_pack_manifest_incremental executes curation.mix_rate, whose
# implementation moved off F.expr string interpolation (round-12
# advice), plus the folded stage_4to6_delta/budget_and_pack tails and
# the drop_set epoch-0 path — shared-machinery text changed, so its
# age-0 row is re-proven rather than leaning on the narrow full-window
# exception (the r13 window has slack).  The two capstones' builder
# text changed too (near dedup now goes through LshIndex.drop_set —
# the auto-gated clique-quadratic mitigation, plain-lane-identical at
# the fixture — and the stage 4-8 tail is the ONE corpus_build
# implementation after the r12-item-6 fold): both seeded, proven at
# two SFs locally before the driver hash.  The OTHER shared_sink
# consumers (incremental_agg/point_lookup/restore_drill/branch_merge,
# newest rows r12; changefeed/alerting, newest rows r10) owe NO seed:
# the machinery they execute is textually unchanged — shared_sink's
# body and VersionedCdcSink are untouched, the only change was inside
# q_cdc_time_travel's own builder (its expire moved to a private
# clone), which can only make the artifact they read MORE stable —
# and the registry-order local parity run re-proves them.
_REVERIFY_R13: frozenset[str] = frozenset(
    {
        "q_cdc_time_travel", "q_cdc_history",
        "q_llm_pack_manifest_incremental",
        "q_llm_corpus_build", "q_stream_corpus_build",
    }
)

# Queries with a driver row in CORRECTNESS_r13.json — 50/50 oracled
# hash-matches (the 43-query age-4 rotation cohort, the 5 _REVERIFY_R13
# seeds, and the two new round-13 queries: the greedy drop set and the
# filtered ANN serving registration).
_DRIVER_VERIFIED_R13: frozenset[str] = frozenset(
    {
        "q_agg_collect", "q_agg_conditional", "q_agg_percentiles",
        "q_agg_salted", "q_array_funcs", "q_cdc_history",
        "q_cdc_time_travel", "q_date_funcs", "q_join_range_bucketized",
        "q_json_funcs", "q_llm_ann_ivf_filtered", "q_llm_corpus_build",
        "q_llm_cosine_topk", "q_llm_dedup_dropset", "q_llm_exact_dedup",
        "q_llm_fingerprint", "q_llm_lang_id", "q_llm_lang_topwords",
        "q_llm_pack_manifest_incremental", "q_llm_quality_score",
        "q_llm_text_stats", "q_llm_token_count", "q_map_funcs",
        "q_math_funcs", "q_mm_meta_real", "q_null_funcs",
        "q_scan_json_props", "q_scan_project_filter", "q_set_except",
        "q_set_intersect", "q_set_union_all", "q_set_union_distinct",
        "q_sort_multikey", "q_str_funcs", "q_str_funcs2",
        "q_stream_corpus_build", "q_subquery_correlated",
        "q_subquery_in", "q_tpch_q10_returned_items",
        "q_tpch_q3_shipping_priority", "q_tpch_q5_local_supplier",
        "q_ts_gapfill_ffill", "q_win_cumulative", "q_win_lag_lead",
        "q_win_moving_avg", "q_win_ntile_firstlast", "q_win_pct_rank",
        "q_win_range_numeric", "q_win_rank", "q_win_topk_per_group",
    }
)

# Queries fronted for driver re-verification in round 14 (r13 verdict,
# items 2-4): the LSM-aged + churn-guarded REPACK change rewrites the
# repack pricing / rewrite_manifests machinery executed by the Iceberg
# maintenance query and both streaming MOR drills;
# q_cdc_attrvalue_roundtrip's builder and oracle widen from the
# S/N-only union to the full DynamoDB AttributeValue set (B, BOOL,
# NULL, M, L, SS/NS/BS); q_llm_near_dedup rotates naturally (newest
# row r10) and its inline banded candidate join folds onto
# dedup.band_candidates together with LshIndex.pairs' copy — the
# pairs() executors (q_llm_lsh_index_maintenance / _compaction and
# q_stream_lsh_index_ingest) re-prove the folded machinery.
# LshIndex.delta_pairs keeps its asymmetric changed-side join (a
# different shape, not a copy), so q_llm_lsh_index_delta_pairs owes
# no seed.  q_llm_simhash / q_llm_simhash_pairs gained DuckDB oracles
# this round (crc32 byte-table fold + splitmix64 re-derived in SQL —
# they were rows-only since r03) and need their first hash rows.
# Window math: 40-query age-5 r09 cohort (attrvalue rides its own
# rotation slot) + the 9 seeds outside the cohort + 1 fresh
# (q_llm_dedup_dropset_twophase, which auto-fronts) = exactly 50.
# Narrow full-window exception invoked (round 14): dropset_gate now
# samples band 0 (x16 scale) instead of aggregating all n·16 band
# rows — shared machinery executed by q_llm_dedup_dropset, both
# corpus-build capstones, and q_llm_pack_manifest_incremental, all
# holding age-0 r13 rows; lifecycle provably identical (the gate
# decision is pinned plain-at-fixture/two-phase-at-clique by
# tests/test_index_maintenance.py, both lanes byte-identical by the
# hypothesis sweep, and all four queries re-proven against their
# oracles at sf0.001 + sf0.01).  The split_bucket int64-overflow fix
# is DEFERRED to round 15 with a code-enforced obligation
# (tests/test_llm.py::test_r15_split_bucket_overflow_obligation —
# arms when _DRIVER_VERIFIED_R14 is recorded; its docstring carries
# the 43-rotation + 7-seed window plan).
_REVERIFY_R14: frozenset[str] = frozenset(
    {
        "q_cdc_iceberg_optimize_plan",
        "q_stream_mor_ingest", "q_stream_mor_ingest_iceberg",
        "q_cdc_attrvalue_roundtrip",
        "q_llm_near_dedup",
        "q_llm_lsh_index_maintenance", "q_llm_lsh_index_compaction",
        "q_stream_lsh_index_ingest",
        "q_llm_simhash", "q_llm_simhash_pairs",
    }
)

# Round-14 driver record (CORRECTNESS_r14.json): 50/50 window entries
# hash-matched (the 40-query age-5 r09 cohort rotation, the 10
# _REVERIFY_R14 seeds, and the fresh q_llm_dedup_dropset_twophase).
_DRIVER_VERIFIED_R14: frozenset[str] = frozenset(
    {
        "q_agg_cube", "q_agg_distinct", "q_agg_groupby", "q_agg_gsets",
        "q_agg_having", "q_agg_rollup", "q_cdc_attrvalue_roundtrip",
        "q_cdc_batch_count", "q_cdc_bucketed_sink", "q_cdc_change_deltas",
        "q_cdc_classify", "q_cdc_control_filter", "q_cdc_dedup_content",
        "q_cdc_dlq_split", "q_cdc_envelope_roundtrip",
        "q_cdc_iceberg_optimize_plan", "q_cdc_latest_per_key",
        "q_cdc_multi_sink", "q_cdc_restore_asof_ts", "q_cdc_restore_report",
        "q_cdc_schema_evolution", "q_cdc_sink_compaction",
        "q_cdc_snapshot_rebuild", "q_join_broadcast", "q_join_inner",
        "q_llm_dedup_dropset_twophase", "q_llm_embed_neardup",
        "q_llm_jaccard_exact", "q_llm_kmeans", "q_llm_lsh_index_compaction",
        "q_llm_lsh_index_maintenance", "q_llm_near_dedup",
        "q_llm_ngram_profile", "q_llm_seq_packing", "q_llm_simhash",
        "q_llm_simhash_pairs", "q_llm_train_test_split",
        "q_mm_frame_sample", "q_mm_media_curation", "q_mm_meta_extract",
        "q_mm_resize_plan", "q_scan_csv_source", "q_scan_json_source",
        "q_stream_heavy_hitters", "q_stream_lsh_index_ingest",
        "q_stream_mor_ingest", "q_stream_mor_ingest_iceberg",
        "q_stream_session", "q_stream_stateful_totals",
        "q_tpch_q18_large_volume",
    }
)

# Queries fronted for driver re-verification in round 15.  The r14
# obligation (tests/test_llm.py::test_r15_split_bucket_overflow_
# obligation) lands this round: the whole multiplicative-hash-32
# family (curation.mult_hash32 — split_bucket, the raw `hk` order
# keys, and sample_bucket/SAMPLE_MULT, which shared the identical
# int64 overflow wall at doc_id ≥ ~3.47e9 / ~4.1e9) is reformulated
# overflow-safe (reduce mod 2^32 FIRST, 16-bit-half multiply;
# value-identical for 0 ≤ doc_id < 2^32, so no driver hash moves).
# Seeds = every registered executor of the changed machinery that
# cannot ride this round's rotation: the 7 the obligation docstring
# planned, PLUS three consumers that audit found the plan missed —
# q_llm_corpus_curation (split_bucket at curation.py train filter,
# newest row r12), q_llm_token_budget_sample (the raw SPLIT_MULT hk,
# r12), q_llm_domain_mix (inline SAMPLE_MULT bucket, r12) — and
# q_mm_meta_real, whose builder+oracle extend this round with the
# stdlib JPEG SOF header parser (r13 row).  q_llm_domain_cap also
# executes sample_bucket but sits in the age-5 r10 rotation cohort,
# so its rotation slot IS its seed.  Narrow full-window exception
# (round-12 rule) invoked for q_llm_train_test_split only: builder
# and oracle text untouched, it merely executes split_bucket; its
# newest driver row is age 0 (r14), and the lifecycle is provably
# identical (obligation test asserts bit-equality over the fixture
# domain + two-SF parity).  Window math: 11 seeds + 39 of the
# 43-query age-5 r10 cohort = 50; the 4 cohort tail entries (last in
# registration order: q_stream_static_join, q_stream_interval_join,
# q_stream_near_dedup, q_stream_schema_evolution — none execute the
# changed curation machinery) stay at age 5 and auto-front in r16 by
# rule 3 (r16 runway: 4 + the 42-query r11 cohort = 46 rotations +
# 4 seed slots).
_REVERIFY_R15: frozenset[str] = frozenset(
    {
        "q_llm_decontaminate", "q_llm_contamination_report",
        "q_llm_leakage_audit", "q_stream_decontaminate",
        "q_llm_corpus_build", "q_stream_corpus_build",
        "q_llm_pack_manifest_incremental",
        "q_llm_corpus_curation", "q_llm_token_budget_sample",
        "q_llm_domain_mix",
        "q_mm_meta_real",
    }
)

# Round-15 driver record (CORRECTNESS_r15.json): 50/50 window entries
# hash-matched (the 11 _REVERIFY_R15 seeds plus the age-5 r10 rotation
# cohort).
_DRIVER_VERIFIED_R15: frozenset[str] = frozenset(
    {
        "q_llm_token_budget_sample", "q_llm_corpus_curation",
        "q_llm_decontaminate", "q_llm_contamination_report",
        "q_llm_domain_mix", "q_llm_leakage_audit", "q_llm_corpus_build",
        "q_llm_pack_manifest_incremental", "q_mm_meta_real",
        "q_stream_decontaminate", "q_stream_corpus_build",
        "q_agg_stats_moments", "q_agg_histogram", "q_agg_mode",
        "q_agg_weighted_avg", "q_ts_sessionize", "q_ts_funnel",
        "q_ts_cohort_retention", "q_ts_anomaly_zscore",
        "q_ts_seasonal_profile", "q_join_left", "q_join_full",
        "q_join_semi", "q_join_anti", "q_join_theta_range",
        "q_join_cross_limited", "q_pivot_status", "q_scan_orc_source",
        "q_tpch_q6_forecast_revenue", "q_tpch_q14_promo_effect",
        "q_llm_ann_ivf", "q_llm_embed_quantize", "q_llm_domain_cap",
        "q_llm_rarity_score", "q_llm_doc_chunking", "q_cdc_changefeed",
        "q_cdc_alerting", "q_cdc_delta_log_fold",
        "q_cdc_delta_schema_evolution", "q_cdc_optimize_plan",
        "q_llm_ivf_index_maintenance", "q_llm_lsh_index_delta_pairs",
        "q_llm_bm25_search", "q_llm_rerank_crossfeat",
        "q_cdc_iceberg_log_fold", "q_cdc_iceberg_mor_fold",
        "q_cdc_iceberg_schema_evolution", "q_stream_tumbling",
        "q_stream_dedup", "q_stream_complete_mode",
    }
)

# Queries fronted for driver re-verification in round 16 (the final
# optimization round): every registered query whose BUILDER TEXT (or
# the drill lifecycle it executes) changed in the r15/r16 width-pin
# work — the r15 advice's owed seeds.  cb046a6 removed the width pin
# from the merge-/verify-bound drills (alert_routing, anomaly, the
# delta/iceberg fold+optimize family, versioned-sink stream, redrive,
# stream near-dedup/decontaminate), narrowed it on the ingest/
# maintenance epochs and corpus builds, and rewired the kept pins
# (dedup, watermark_late, complete_mode, interval_join, the stateful
# family, anomaly_zscore) through drill_width; r16 additionally
# touches the LSH artifact/stateful internals.  Narrow full-window
# exception (round-12 rule) invoked for the pin-KEPT consumers whose
# own builder text is untouched — the foreachBatch twins (sessionize,
# ewma, cusum, holt_winters, heavy_hitters, schema_evolution,
# mor_ingest ×2, foreachbatch_cdc) and q_llm_pack_manifest_incremental
# (newest row age 0/1) — because the executed lifecycle is provably
# identical: drill_width() == the old constant 4 at every core count
# the driver contract uses (tests/test_drill_width.py pins the
# equivalence; parity covers all at two SFs).  The same exception
# covers the ~26 stream drills whose fixture prep runs through the
# r16-threaded _write_split_files: the on-disk fixture (names, mtimes,
# rows, empty-split files) is pinned BYTE-IDENTICAL to the sequential
# form by tests/test_split_files.py, so the streams consume unchanged
# input; and q_cdc_dlq_redrive's RedriveStore.deliver concurrency,
# whose commit protocol and outputs are unchanged (tests/test_redrive
# + its R16 seed).
#
# The shared bucket write (table_files.repartition_by_bucket: an
# explicit-width hash exchange replacing the AQE-coalesced
# repartition on the bucket column in all four sinks) changes the
# executed write lifecycle of every sink-path query: which task
# writes which bucket file, never the rows.  Seeded: the sink-path
# drills that exercise the write sites directly — the delta/iceberg
# fold, MOR-fold and optimize family, q_stream_versioned_sink and
# q_llm_corpus_build (already seeds above), plus q_cdc_bucketed_sink
# and q_cdc_sink_compaction (BucketedCdcSink.apply_batch and
# .compact, the two bucketed-sink sites).  Narrow full-window
# exception for the other sink consumers (shared_sink time-travel/
# changefeed readers, MOR ingest drills, index maintenance and
# manifest drills), whose builder text is untouched: one file per
# (bucket, commit) is pinned for all four sinks by
# tests/test_bucket_write.py, and parity covers all at two SFs.
#
# The shared commit core (streaming/log_table.LogTable: one optimistic
# commit loop plus apply_batch/compact/compact_mor/append/snapshot/
# changes_between for both the Delta- and Iceberg-shaped sinks)
# re-implements every sink path those sinks execute; its Spark actions
# run in the same order, except that a blind append now detects an
# empty batch from its per-bucket count job and commits nothing.
# The seven fold/evo/optimize/MOR sink drills (whose fold and
# optimize-plan builders now share log_table's drill bodies) and the
# index-maintenance drills are seeds above; added: q_stream_mor_ingest
# and q_stream_mor_ingest_iceberg (append / optimize_plan /
# compact_mor through the core, builder text untouched).
#
# The map-side nearest-cell kernel (llm/kmeans.py: centroids as one
# row value, array_min/array_sort argmin and ranking, hash-aggregated
# Lloyd means with driver-held centroids; similarity._ivf_artifact:
# one checkpointed scan for training and the list build) re-implements
# every IVF quantizer path.  Builder text changed: q_llm_ann_ivf (one
# (cid, pv) probe broadcast from the kernel), q_llm_ann_ivf_multiprobe
# (its inline probe plan and top-k now ARE serving.multiprobe_plan and
# probe_topk) and q_cdc_dlq_redrive (RedriveStore.kept_snapshot;
# already a seed above).  Added as well: q_llm_kmeans (kmeans_fit now
# checkpoints and trains through the kernel) and every other query
# that executes the kernel with its builder text untouched —
# q_llm_ann_ivf_filtered, q_llm_embed_neardup, q_llm_ann_recall,
# q_stream_semantic_neardup, q_llm_ann_ivfadc, q_llm_ann_ivfpq_residual
# — because none has an age-0 driver row, so the narrow full-window
# exception does not apply to any of them (the IVF index drills, whose
# IvfIndex changed, are seeds above).
#
# The Arrow-batched nearest-cell kernel (llm/kmeans.py: one numpy
# exact-integer pass for every assignment, ranking and Lloyd update,
# per-task partials combined by one hash aggregation; PQ on the same
# kernel with one cell set per subspace) re-implements the paths of
# every seed above that trains or probes a quantizer, so those seeds
# stand.  Added: q_llm_ann_pq, whose PQ assign and codebook update now
# run the kernel (no struct-min SortAggregate, no per-iteration
# checkpoint); it is also one of the r11-cohort queries at age 5.  The
# probes of q_llm_ann_recall, q_llm_ann_ivfadc,
# q_llm_ann_ivfpq_residual and serving.multiprobe_plan now quantize
# their own scan rows; all are seeds already.
# Window math: 42 seeds + the 2 remaining age-5 r10 tail entries
# (q_stream_static_join, q_stream_schema_evolution — near_dedup and
# interval_join moved into the seed set) + the 6 oldest of the
# r11 cohort outside the seed set = 50; the displaced r11-cohort
# entries stay guarded by the local parity suite.
_REVERIFY_R16: frozenset[str] = frozenset(
    {
        "q_cdc_bucketed_sink", "q_cdc_sink_compaction",
        "q_stream_alert_routing", "q_stream_anomaly",
        "q_cdc_dlq_redrive", "q_stream_versioned_sink",
        "q_cdc_delta_log_fold", "q_cdc_delta_schema_evolution",
        "q_cdc_optimize_plan", "q_cdc_iceberg_log_fold",
        "q_cdc_iceberg_mor_fold", "q_cdc_iceberg_schema_evolution",
        "q_cdc_iceberg_optimize_plan", "q_stream_near_dedup",
        "q_stream_decontaminate", "q_stream_lsh_index_ingest",
        "q_stream_ivf_index_ingest", "q_stream_corpus_build",
        "q_llm_corpus_build", "q_llm_lsh_index_maintenance",
        "q_llm_ivf_index_maintenance", "q_llm_lsh_index_delta_pairs",
        "q_llm_lsh_index_compaction", "q_stream_dedup",
        "q_stream_watermark_late", "q_stream_complete_mode",
        "q_stream_interval_join", "q_stream_anomaly_zscore",
        "q_stream_stateful_sessions", "q_stream_stateful_totals",
        "q_stream_mor_ingest", "q_stream_mor_ingest_iceberg",
        "q_llm_ann_ivf", "q_llm_kmeans",
        "q_llm_ann_ivf_multiprobe", "q_llm_ann_ivf_filtered",
        "q_llm_embed_neardup", "q_llm_ann_recall",
        "q_stream_semantic_neardup", "q_llm_ann_ivfadc",
        "q_llm_ann_ivfpq_residual", "q_llm_ann_pq",
    }
)


def all_queries() -> dict[str, QuerySpec]:
    """Import all operator modules (side-effect: registration) and return the registry.

    Returned dict order (the driver evaluates in dict order and keeps
    only a ~50-entry window, so ordering IS the coverage policy):

    1. ORACLED queries with no driver row in any round (never checked);
    2. queries re-implemented this round (``_REVERIFY_R16`` — the
       CURRENT round's set; editing an older _REVERIFY_* set does
       nothing, the ordering reads only the newest) — the
       local parity suite is otherwise their only guard;
    3. every other ORACLED query by ASCENDING last-verified round
       (oldest evidence first, registration order within a round) — a
       rotation that drains staleness: no row's driver evidence can age
       more than ceil(registry/window) rounds;
    4. rows-only entries (oracle is None) LAST — a driver slot spent on
       them can only ever re-confirm `no_oracle` (q_llm_simhash burned
       two consecutive slots that way; round-8 verdict, item 2), so
       they never displace a hash-verifiable query from the window.

    Trade-off, documented per round-2 advice: queries past the window
    are NOT re-checked by the driver, so a regression there would only
    be caught by the local parity suite (tests/test_oracle_parity.py),
    which therefore stays mandatory before every round snapshot.
    """
    from .operators import (  # noqa: F401
        aggregates,
        behavior,
        cdc,
        envelope,
        joins,
        layout,
        reshape,
        scans,
        setops,
        skew,
        timeseries,
        windows,
        workloads,
        workloads2,
    )
    from .functions import maps, scalar, scalar2  # noqa: F401
    from .llm import (  # noqa: F401
        clusters,
        corpus_build,
        curation,
        dedup,
        index_maintenance,
        kmeans,
        manifest_maintenance,
        multimodal,
        pq,
        retrieval,
        scrub,
        serving,
        similarity,
        textstats,
    )
    from .streaming import (  # noqa: F401
        control,
        delta_log_sink,
        iceberg_log_sink,
        redrive,
        stateful,
        stream_queries,
        twins,
        versioned_sink,
    )

    rounds = (
        _DRIVER_VERIFIED_R01,
        _DRIVER_VERIFIED_R02,
        _DRIVER_VERIFIED_R03,
        _DRIVER_VERIFIED_R04,
        _DRIVER_VERIFIED_R05,
        _DRIVER_VERIFIED_R06,
        _DRIVER_VERIFIED_R07,
        _DRIVER_VERIFIED_R09,
        _DRIVER_VERIFIED_R10,
        _DRIVER_VERIFIED_R11,
        _DRIVER_VERIFIED_R12,
        _DRIVER_VERIFIED_R13,
        _DRIVER_VERIFIED_R14,
        _DRIVER_VERIFIED_R15,
    )

    def last_checked(n: str) -> int:
        return max((i for i, s in enumerate(rounds, start=1) if n in s), default=0)

    order = list(_REGISTRY)
    rows_only = [n for n in order if _REGISTRY[n].oracle is None]
    fresh = [
        n
        for n in order
        if last_checked(n) == 0
        and n not in _REVERIFY_R16
        and n not in rows_only
    ]
    # a rows-only name accidentally listed in a reverify set must not
    # claim a recheck slot (dict first-insert wins, so without this
    # filter it would keep its recheck position despite rule 4) — the
    # _FRONT_ROWS_ONLY_R11 exception below is deliberate and one-shot.
    recheck = [n for n in order if n in _REVERIFY_R16 and n not in set(rows_only)]
    front_now = (
        _FRONT_ROWS_ONLY_R11
        if len(rounds) == _FRONT_ROWS_ONLY_WHILE_N_ROUNDS
        else frozenset()
    )
    fronted_rows_only = [n for n in rows_only if n in front_now]
    tail_rows_only = [n for n in rows_only if n not in front_now]
    head = set(fresh) | set(recheck) | set(rows_only)
    rest = sorted(
        (n for n in order if n not in head),
        key=lambda n: (last_checked(n), order.index(n)),
    )
    return {
        n: _REGISTRY[n]
        for n in (*fresh, *recheck, *fronted_rows_only, *rest, *tail_rows_only)
    }
