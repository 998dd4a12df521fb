"""Central operator registry: every implemented operator from SURVEY.md §2,
mapped to a ``queries()`` callable and (where SQL-expressible) a DuckDB
oracle. ``__spark_entry__.py`` is a thin re-export of this module.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .llm import dedup as _dedup
from .llm import multimodal as _multimodal
from .llm import pipeline as _llm_pipeline
from .llm import retrieval as _retrieval
from .llm import sampling as _sampling
from .llm import similarity as _similarity
from .llm import text as _text
from .llm import web as _web
from .operators import aggregates as _aggregates
from .operators import filters as _filters
from .operators import joins as _joins
from .operators import reshape as _reshape
from .operators import scalars as _scalars
from .operators import skew as _skew
from .operators import sorts_sets as _sorts_sets
from .operators import sql_queries as _sql_queries
from .operators import timeseries as _timeseries
from .operators import udfs as _udfs
from .operators import windows as _windows
from .sources import readers as _readers
from .sources import sinks as _sinks
from .streaming import batch_ops as _batch_ops

_MODULES = (
    _readers,
    _sinks,
    _filters,
    _joins,
    _aggregates,
    _windows,
    _sorts_sets,
    _skew,
    _sql_queries,
    _reshape,
    _timeseries,
    _scalars,
    _udfs,
    _batch_ops,
    _text,
    _dedup,
    _similarity,
    _sampling,
    _retrieval,
    _web,
    _multimodal,
    _llm_pipeline,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

#: Sweep order for queries(): DRIVER-COVERAGE FIRST. The external verify
#: driver cuts at ~50 keys per round BY COUNT, so the front block must
#: hold exactly the keys that most need a fresh driver stamp. Round-15
#: policy (VERDICT r14 ask #1 + ADVICE r14): the r14 stale block is
#: 5 r9 keys + 50 r10 keys = 55, round 15 adds 1 operator, and the
#: rotation policy gains a CODE-TOUCHED-SINCE-STAMP override (ADVICE
#: r14: stamp age alone left an output-changing fix ~3 rounds from an
#: external restamp) — so the 5 r9 scalars lead, the 2 keys whose code
#: changed after their latest stamp ride next (llm_domain_mix_reweight:
#: r13 stamp, +1e-7 stabilizer landed r14; llm_unigram_tokenizer: r14
#: stamp, z>0 ANSI guard landed r15), the round-15 addition follows
#: (never driver-stamped — new coverage outranks a restamp), and 42 of
#: the 50 r10 keys complete the window (profiled order preserved); the
#: 8 cheapest-to-reverify r10 keys defer to round 16, placed
#: immediately behind the window. Behind them, keys stay grouped
#: oldest-latest-stamp first (r11, r12, r13, r14), preserving the
#: profiled cheapest-first relative order inside each group. Regenerate
#: by re-sorting on the CORRECTNESS_r* latest-stamp map (see
#: tests/test_oracle_parity.py window-pinning test, which locks the
#: front 50 to this policy). Keys missing from this list (new operators
#: between profilings) are appended alphabetically, so registration
#: never breaks on an unprofiled key.
#: Round-16 window math, precomputed: once the r15 stamps land, the
#: stale block is 8 r10 + 50 r11 = 58 keys — lead with the 8 r10 keys,
#: then 42-minus-additions r11 keys; 8 + N(additions) cheapest r11
#: keys defer to round 17.
_SWEEP_ORDER: tuple[str, ...] = (
    # stamp age r9 — the 5 scalar keys deferred from the round-14
    # window lead round 15 (VERDICT r14 ask #1)
    "fn_levenshtein", "fn_try_arith", "fn_concat", "fn_variant",
    "fn_date_arith",
    # code-touched since latest stamp (ADVICE r14 rotation-policy
    # override): output-relevant code changes postdate these stamps
    "llm_domain_mix_reweight", "llm_unigram_tokenizer",
    # round-15 addition — never driver-stamped, rides the window
    "llm_unigram_apply",
    # stamp age r10 — 42 of the 50-key r10 stale block (profiled order
    # preserved; 8 cheapest re-verifies deferred to round 16)
    "sql_shipmode_priority", "sql_small_quantity_revenue", "sql_top_supplier",
    "sql_returned_items", "sql_order_priority",
    "sql_inactive_customer_balance", "sql_waiting_supplier",
    "sql_shipping_priority", "sql_parts_supplier_count", "sql_product_profit",
    "sql_customer_distribution", "sql_nation_volume",
    "sql_large_volume_customer", "sql_market_share",
    "sql_local_supplier_volume", "sql_recursive_hierarchy",
    "llm_shard_assign", "udf_arrow",
    "ts_rollup_hypertable", "scan_xml", "join_range", "join_skew_salted",
    "agg_corr", "scan_binaryfile", "llm_embed_quantize",
    "fn_crypto_roundtrip", "llm_sample_temperature", "udf_grouped_agg",
    "llm_mix_sources", "ts_holt_winters", "llm_line_boilerplate",
    "llm_eval_ndcg", "llm_mmr_rerank", "llm_eval_calibration",
    "llm_rank_fusion", "llm_similarity_topk",
    "udf_table_udtf", "ts_retention_cohort", "udf_table",
    "llm_doc_embed_hash", "scan_schema_evolution", "llm_vocab_coverage",
    # stamp age r10, deferred to round 16 (the 8 cheapest-to-reverify
    # keys, displaced by the touched-key override + round-15 addition)
    "win_first_value", "win_ntile", "set_intersect", "ts_ohlc",
    "ts_resample", "llm_text_entropy", "llm_text_repetition",
    "llm_text_bigrams",
    # stamp age r11
    "win_distinct_running", "agg_dq_checks", "agg_regression",
    "llm_text_unigram_nll", "stream_event_replay", "ts_sessionize",
    "agg_count_min", "llm_knn_join", "join_bloom_prefilter",
    "ts_fill_forward", "merge_scd2", "llm_eval_confusion", "ts_ewma",
    "filter_dpp", "llm_text_keywords", "llm_dedup_graph_stats",
    "llm_dedup_spans", "llm_contamination", "llm_ann_rescore", "ts_funnel",
    "ts_anomaly_zscore", "ts_interpolate", "llm_dedup_embed",
    "stream_watermark_advance", "scan_pysource", "llm_eval_ranking",
    "llm_dedup_incremental", "fn_param_sql", "fn_collate",
    "llm_dedup_clusters", "llm_cluster_kmeans", "stream_stateful_progress",
    "llm_pipeline_e2e", "llm_perplexity_filter", "llm_curriculum_order",
    "join_asof_nearest", "ts_downsample_lttb", "sink_partition_overwrite",
    "llm_multimodal", "llm_multimodal_resize", "llm_multimodal_frames",
    "ts_seasonal_profile", "llm_url_canonicalize", "llm_dedup_url",
    "llm_domain_authority", "ts_forecast_backtest", "llm_pack_quality",
    "ts_anomaly_mad", "ts_downsample_lttb_hier", "scan_jdbc_partitioned",
    # stamp age r12 — freshest stamps, last (the round-12 window:
    # 48 ex-r7 + the 2 round-12 additions)
    "agg_weighted_median", "ts_acf", "llm_importance_resample",
    "agg_distinct", "agg_arg_max", "join_anti", "agg_histogram",
    "agg_groupby", "scan_bucketed", "join_semi", "scan_csv", "agg_rollup",
    "join_theta", "join_left", "jdbc_sink", "row_offset_filter",
    "agg_percentile", "scan_json", "join_full", "join_sortmerge",
    "join_snapshot_diff", "join_broadcast", "join_asof",
    "join_watermark_compare", "log_append", "scan_orc", "jdbc_source",
    "agg_max_watermark", "agg_stats", "snapshot_dump", "parallel_copy",
    "snapshot_load", "fn_regexp_extract", "scan_text", "filter_prefix",
    "filter_null", "fn_array", "fn_url", "filter_multi_rlike", "sort_top1",
    "filter_table_class", "filter_negative", "filter_isin", "string_scrub",
    "llm_text_normalize", "reshape_unpivot", "reshape_explode",
    "delimited_parse", "llm_html_extract", "llm_classifier_trainset",
    # stamp age r13 — freshest stamps, last (the round-13 window:
    # 46 ex-r8 + the 4 round-13 additions)
    "win_row_number", "agg_conditional", "filter_rlike",
    "llm_sample_stratified", "fn_hash", "win_rank", "project_columns",
    "scan_parquet", "fn_regexp_replace", "fn_date_format",
    "win_pattern_match", "sort_topk", "llm_text_bpe_count", "fn_map",
    "fn_json", "llm_text_redact", "llm_text_quality", "stream_tumbling",
    "agg_cube", "stream_retry", "llm_quality_classifier", "fn_div_mod",
    "filter_gt_watermark", "stream_incremental_dump", "udf_scalar",
    "reshape_struct_flatten", "scan_partitioned", "agg_pending_count",
    "agg_duration", "llm_multimodal_features", "agg_table_profile",
    "agg_approx_distinct", "agg_hll_sketch", "agg_approx_percentile",
    "ts_changepoint", "llm_corpus_shuffle", "llm_tokenizer_apply",
    "llm_bpe_merges", "llm_ann_batch", "llm_embed_pq", "llm_pack_sequences",
    "win_lag", "llm_text_tokens", "join_asof_forward", "llm_text_langid",
    "set_except", "llm_kn_bigram_lm", "sql_min_cost_supplier",
    "ts_cross_correlation",
    # stamp age r14 — freshest stamps, last (the round-14 window minus
    # llm_unigram_tokenizer, which rides the round-15 window under the
    # code-touched override)
    "fn_case_when", "fn_cast", "fn_math", "fn_split",
    "stream_divergence", "llm_text_profile", "fn_datetime_extract",
    "llm_dedup_exact", "llm_chunk_windows", "stream_sliding",
    "agg_string_agg", "agg_grouping_sets", "win_running_sum",
    "llm_dedup_ngram", "win_topk_per_group",
    "agg_bitmap_distinct", "stream_late_data", "win_range_frame",
    "win_latest_per_group", "stream_consistent_cut", "llm_text_fingerprint",
    "stream_dedup", "stream_session", "reshape_pivot", "set_union",
    "win_distribution", "sort_events", "stream_stream_join", "agg_mode",
    "agg_skew_salted", "agg_quantile_sketch", "ts_stl_decompose",
    "llm_chunk_rank", "llm_preference_pairs", "join_interval_overlap",
    "llm_dedup_semantic", "llm_split_leakage_safe", "llm_serving_e2e",
    "llm_ann_index_probe", "llm_dedup_minhash_clusters", "ts_gap_detect",
    "llm_dedup_minhash", "llm_dedup_simhash", "llm_ann_ivf", "llm_ann_lsh",
    "sql_promo_revenue", "sql_pricing_summary", "sql_discount_revenue",
    "scan_zorder",
)


def build_queries() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for mod in _MODULES:
        for name, fn in mod.QUERY_FNS.items():
            if name in out:  # pragma: no cover - registry integrity
                raise ValueError(f"duplicate query key: {name}")
            out[name] = fn
    ordered: dict[str, QueryFn] = {}
    for name in _SWEEP_ORDER:
        if name in out:
            ordered[name] = out.pop(name)
    for name in sorted(out):
        ordered[name] = out[name]
    return ordered


#: Matches the embeddings RELATION wherever oracle SQL references it —
#: anchored to the three relation positions (FROM / JOIN / comma-join,
#: aliased or not) so a quoted STRING LITERAL containing the word (e.g.
#: the filter_table_class VALUES list) is never rewritten (ADVICE r12: a
#: quote sits between the comma and the word there, which ``\s*`` cannot
#: cross). The singular column name ``embedding`` does not match the
#: word boundary.
_EMB_REF = re.compile(r"(?i)((?:\bFROM|\bJOIN|,)\s*)embeddings\b")


def build_oracles() -> dict[str, str]:
    """Assemble every module's oracle SQL, then apply the table-level
    degenerate-embedding policy (catalog.load_embeddings /
    catalog.EMB_CLEAN_SUBQUERY) mechanically to each reference of the
    ``embeddings`` relation — one substitution site so the engine's
    cleaned loader and ALL 20+ oracle texts can never drift (hostile-row
    fuzz wave 2, round 12). re.sub is single-pass, so the subquery's own
    ``FROM embeddings`` is not re-expanded."""
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(getattr(mod, "ORACLES", {}))
    from .catalog import EMB_CLEAN_SUBQUERY

    return {
        k: _EMB_REF.sub(lambda m: m.group(1) + EMB_CLEAN_SUBQUERY, sql)
        if "embeddings" in sql
        else sql
        for k, sql in out.items()
    }
