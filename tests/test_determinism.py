"""Partition-count invariance: the engine's float-determinism policy
(exact-decimal accumulation, index-ordered folds) must make results
bit-identical when the shuffle partitioning changes — i.e. the same answer
on a laptop and on a 1000-executor cluster."""

from __future__ import annotations

import pytest

from hive3_replication_spark.registry import build_queries
from tests.conftest import SF_DIR

FLOAT_HEAVY = [
    "agg_groupby",
    "win_running_sum",
    "join_broadcast",
    "llm_similarity_topk",
    "llm_knn_join",
    "llm_pipeline_e2e",
    "sql_pricing_summary",
    "udf_grouped_agg",
    "ts_interpolate",
    "llm_text_repetition",
    "agg_mode",
    "llm_pack_sequences",
    "ts_ohlc",
    "sql_market_share",
    "ts_sessionize",
    "llm_text_keywords",
    "llm_chunk_windows",
    "llm_mix_sources",
    "llm_dedup_incremental",
    "llm_dedup_clusters",
    # round 2: the float-sensitive additions — quantized k-means centroid
    # sums, decimal window sums behind the z-score, exact-moment corr,
    # temperature thresholds (IEEE-exact sqrt), serpentine shard dealing
    "llm_cluster_kmeans",
    "ts_anomaly_zscore",
    "agg_corr",
    "llm_sample_temperature",
    "llm_shard_assign",
    "llm_dedup_spans",
    "llm_vocab_coverage",
    "agg_count_min",
    "agg_bitmap_distinct",
    "agg_regression",
    "ts_retention_cohort",
    "ts_ewma",
    "ts_funnel",
    "llm_doc_embed_hash",
    # round 3: the full-oracle upgrades must also be partition-invariant —
    # md5-based MinHash/SimHash signatures, quantized-int64 IVF centroids,
    # literal-plane hyperplane LSH (rounded tie-broken top-k throughout)
    "llm_dedup_minhash",
    "llm_dedup_simhash",
    "llm_ann_ivf",
    "llm_ann_lsh",
    "llm_bpe_merges",
    "llm_corpus_shuffle",
    "llm_tokenizer_apply",
    "llm_ann_batch",
    "ts_changepoint",
    "llm_embed_pq",
    "llm_dedup_semantic",
    "llm_serving_e2e",
    "llm_ann_index_probe",
    "ts_seasonal_profile",
    # round-5: the bigram AVG fold is the float reduction whose order the
    # 6-dp rounding must absorb at any partition count
    "llm_perplexity_filter",
    "llm_curriculum_order",
    "ts_downsample_lttb",
    "ts_downsample_lttb_hier",
    # round-7: lagged-product decimal sums + once-per-group float formula
    "ts_acf",
    # round-7: decimal-exact crossing test, float only at the final round
    "agg_weighted_median",
    # round-9: hash-tag bottom-m sampling (sketch), integer-sum STL floats,
    # fixed-order BM25 IEEE chain, rank-symmetric pair assembly,
    # exactly-once bucket-blocked interval join, integer RRF over
    # double-ordered arm ranks
    "agg_quantile_sketch",
    "ts_stl_decompose",
    # round-10: literal-weight Holt filter fold + decimal-exact band test;
    # cosine-ordered ranks under integer gain/discount arithmetic
    "ts_holt_winters",
    "llm_eval_ndcg",
    "llm_line_boilerplate",
    "llm_mmr_rerank",
    "llm_eval_calibration",
    "llm_chunk_rank",
    "llm_preference_pairs",
    "join_interval_overlap",
    "llm_rank_fusion",
    # round-11: integer power-iteration over a memoized persisted graph,
    # milli/nano-quantized eval of the Holt float chain, and the
    # window-offset packing roll-up (llm_url_canonicalize is a pure
    # per-row projection — partition-invariant by construction)
    "llm_domain_authority",
    "ts_forecast_backtest",
    "llm_pack_quality",
    "llm_dedup_url",
    "ts_anomaly_mad",
    # round-12: the trainset's 1-row threshold fold + hash-bucket keep
    # must be partition-invariant (llm_html_extract is a pure per-row
    # projection — partition-invariant by construction, like L38)
    "llm_classifier_trainset",
    # round-13: per-doc AVG of the shared-literal KN bits expression;
    # decimal-exact Pearson sums + clamped-sqrt float formula per (pair,
    # lag); the exact-integer A_d multiplicative-weights normalization;
    # decimal min-equality survivor set under the correlated subquery
    "llm_kn_bigram_lm",
    "ts_cross_correlation",
    "llm_domain_mix_reweight",
    "sql_min_cost_supplier",
    # round-15: the unigram apply's Viterbi pick + per-lang rollup must
    # reproduce bit-identically when the WHOLE train+apply chain reruns
    # under a different partition count (memo cleared between runs — the
    # trainer's total-ordered integer EM is itself under test here)
    "llm_unigram_apply",
]

#: Keys whose cross-run memo (persisted signature/pair relations) must be
#: dropped between the two runs — otherwise the second run would read the
#: first run's cached result and the invariance check would be vacuous.
_MEMOIZED = {
    "llm_dedup_minhash",
    "llm_dedup_simhash",
    "llm_dedup_clusters",
    "llm_domain_authority",  # persisted domain/edge relations (web.py)
    "llm_unigram_apply",  # persisted vocab/model state (cache slot "unigram")
}


@pytest.mark.parametrize("key", FLOAT_HEAVY)
def test_partition_count_invariance(spark, key):
    from hive3_replication_spark.llm.dedup import clear_caches

    q = build_queries()[key]
    original = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        if key in _MEMOIZED:
            clear_caches()
        few = q(spark, SF_DIR).toPandas()
        spark.conf.set("spark.sql.shuffle.partitions", "37")
        if key in _MEMOIZED:
            clear_caches()
        many = q(spark, SF_DIR).toPandas()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", original)
    cols = sorted(few.columns)
    a = few[cols].sort_values(cols).reset_index(drop=True)
    b = many[cols].sort_values(cols).reset_index(drop=True)
    # exact (bitwise) equality — no tolerance
    assert a.equals(b), f"{key} differs across partition counts"
