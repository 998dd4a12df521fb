"""Physical-plan quality gates (the 100 TB design checks from the task
brief): predicate pushdown reaches the parquet scan, projections prune the
read schema, dim joins broadcast, top-k avoids full sorts. These are the
properties that decide whether a plan survives a 1000-executor scale-up, so
they are asserted, not eyeballed.
"""

from __future__ import annotations

import pytest

from hive3_replication_spark.llm.similarity import llm_similarity_topk
from hive3_replication_spark.operators.filters import filter_gt_watermark
from hive3_replication_spark.operators.joins import join_broadcast, join_sortmerge
from hive3_replication_spark.operators.sorts_sets import sort_topk
from hive3_replication_spark.sources.readers import scan_parquet
from tests.conftest import SF_DIR


def _plan(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_scan_pushdown_and_pruning(spark):
    plan = _plan(scan_parquet(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the read schema carries only the 3 projected columns
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_watermark_literal_pushdown(spark):
    """Two-phase watermark planning must yield a *pushed literal* range
    predicate (a dynamic 1-row join cannot prune the scan)."""
    plan = _plan(filter_gt_watermark(spark, SF_DIR))
    assert "GreaterThan(event_id" in plan


def test_partition_pruning(spark):
    """Date predicate on the date-partitioned layout must prune at the
    partition level, not per-row."""
    from hive3_replication_spark.sources.readers import scan_partitioned

    plan = _plan(scan_partitioned(spark, SF_DIR))
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "event_date" in pf_line


def test_zorder_scan_pushdown(spark):
    """The event_type predicate over the z-ordered layout must reach the
    parquet scan as a pushed filter (that is what turns the layout's
    per-file min/max stats into skipped I/O; the file-level skipping
    itself is measured in tests/test_zorder_layout.py), and the read
    schema must carry only the consumed columns."""
    from hive3_replication_spark.sources.readers import scan_zorder

    plan = _plan(scan_zorder(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)" in plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "event_date" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema


def test_dim_join_broadcasts(spark):
    plan = _plan(join_broadcast(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fact_join_shuffles_on_key(spark):
    plan = _plan(join_sortmerge(spark, SF_DIR), "simple")
    # either SMJ or shuffled-hash is acceptable (AQE decides); what must NOT
    # happen is a broadcast of the fact side or a nested-loop join
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_is_exchange_free(spark):
    """Bucketed orders ⋈ lineitem must read bucket-local: with broadcast
    disabled, the join runs with ZERO shuffle exchanges — the pre-shuffled
    layout that keeps a daily 100 TB fact-fact join off the network."""
    from hive3_replication_spark.sources.readers import bucketed_tables

    orders_t, lineitem_t = bucketed_tables(spark, SF_DIR)
    with_conf = spark.conf
    old = with_conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = spark.table(orders_t)
        li = spark.table(lineitem_t)
        joined = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
            "o_orderpriority", "l_extendedprice"
        )
        plan = _plan(joined, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
    finally:
        with_conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_topk_uses_take_ordered(spark):
    plan = _plan(sort_topk(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan


def test_similarity_topk_plan(spark):
    """Cosine top-k: query vector broadcast (never the corpus), top-k via
    TakeOrderedAndProject — the SURVEY.md §7 risk-5 contract."""
    plan = _plan(llm_similarity_topk(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_contamination_corpus_side_is_narrow(spark):
    """Decontamination: the eval side broadcasts, and the corpus side must
    reach the join WITHOUT a shuffle — shingle generation is narrow and the
    only corpus exchange is the post-join pair aggregation. A distinct or
    repartition sneaking in upstream of the join turns a map-side probe
    into a full-corpus shuffle at 100 TB."""
    from hive3_replication_spark.llm.dedup import llm_contamination

    plan = _plan(llm_contamination(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan
    # In the simple-mode tree sketch the corpus subtree prints between the
    # join node and its BroadcastExchange child (streamed side first). That
    # segment must contain no hash-partitioned shuffle; the eval subtree
    # (under the broadcast) and the post-join pair agg may shuffle freely.
    join_pos = plan.index("BroadcastHashJoin")
    broadcast_pos = plan.index("BroadcastExchange", join_pos)
    corpus_segment = plan[join_pos:broadcast_pos]
    assert "Exchange hashpartitioning" not in corpus_segment, corpus_segment


def test_minhash_signature_first_shuffle_is_the_groupby(spark):
    """MinHash: the signature build must be the pipeline's first shuffle —
    no distinct between shingle generation and the per-doc min aggregation."""
    from hive3_replication_spark.llm.dedup import _shingles
    from hive3_replication_spark.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(_shingles(docs, distinct=False), "simple")
    assert "Exchange hashpartitioning" not in plan


def test_topk_per_group_pushes_group_limit(spark):
    """win_topk_per_group must plan a PARTIAL WindowGroupLimit below the
    exchange — each map task forwards at most k rows per group, so the
    shuffle carries O(groups × k), not the whole fact table."""
    from hive3_replication_spark.operators.windows import win_topk_per_group

    plan = _plan(win_topk_per_group(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in plan
    exchange_pos = plan.index("Exchange hashpartitioning")
    assert "WindowGroupLimit" in plan[exchange_pos:], (
        "no map-side (partial) WindowGroupLimit below the shuffle"
    )


def test_pack_sequences_single_shuffle(spark):
    """Sequence packing: exactly one exchange (on the shard key); the
    running-total window must not add a second sort-exchange."""
    from hive3_replication_spark.llm.sampling import llm_pack_sequences

    plan = _plan(llm_pack_sequences(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_waiting_supplier_plans_semi_and_anti(spark):
    """sql_waiting_supplier: the correlated EXISTS must plan as a left-semi
    join and the NOT EXISTS as a left-anti join (no nested-loop re-execution
    of the subqueries per row), and the fact scans must prune to the three
    columns the correlation needs."""
    from hive3_replication_spark.operators.sql_queries import sql_waiting_supplier

    plan = _plan(sql_waiting_supplier(spark, SF_DIR), "simple")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_keywords_push_group_limit(spark):
    """llm_text_keywords: the per-doc top-3 must plan a WindowGroupLimit
    (rank predicate pushed into the window stage). The vocabulary join
    deliberately carries NO broadcast hint (web-scale vocab can exceed
    broadcast limits) — AQE picks the strategy at runtime — so the gate
    only rejects the catastrophic shape (nested-loop / cartesian)."""
    from hive3_replication_spark.llm.text import llm_text_keywords

    plan = _plan(llm_text_keywords(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ohlc_is_single_pass_hash_agg(spark):
    """ts_ohlc: one hash-aggregate pass — no Sort, no Window node; the only
    exchange carries the partial aggregates (groups × hours rows), which is
    what keeps tick-stream downsampling shuffle-light at any event volume."""
    from hive3_replication_spark.operators.timeseries import ts_ohlc

    plan = _plan(ts_ohlc(spark, SF_DIR), "simple")
    assert "Window" not in plan
    assert "Sort" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_sessionize_single_exchange(spark):
    """ts_sessionize: both window passes AND the per-session rollup must
    reuse one user_id exchange — lag + running-sum share a window spec,
    and HashPartitioning(user_id) already clusters (user_id, session_idx),
    so the whole gaps-and-islands pipeline is a single shuffle."""
    from hive3_replication_spark.operators.timeseries import ts_sessionize

    plan = _plan(ts_sessionize(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_frame_no_self_join(spark):
    """win_range_frame: the trailing-hour rolling agg must plan as ONE
    Window node over one exchange+sort — no join in the plan (the O(n·k)
    self-join formulation is what this operator exists to avoid)."""
    from hive3_replication_spark.operators.windows import win_range_frame

    plan = _plan(win_range_frame(spark, SF_DIR), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ratio_workloads_scan_fact_once(spark):
    """sql_market_share / sql_promo_revenue: numerator and denominator of
    the conditional-aggregate ratio must come from ONE pass — exactly one
    lineitem scan in the plan, no self-join of the fact."""
    from hive3_replication_spark.operators.sql_queries import (
        sql_market_share,
        sql_promo_revenue,
    )

    for fn in (sql_market_share, sql_promo_revenue):
        plan = _plan(fn(spark, SF_DIR))
        assert plan.count("lineitem.parquet") == 1, fn.__name__


def test_disjunctive_predicates_push_to_both_scans(spark):
    """sql_discount_revenue: Catalyst must split the OR-of-ANDs and push
    the per-table halves into each parquet scan (quantity brackets to
    lineitem, brand/size brackets to part) instead of filtering post-join."""
    from hive3_replication_spark.operators.sql_queries import sql_discount_revenue

    plan = _plan(sql_discount_revenue(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_partkey), Or(" in plan
    assert plan.count("PushedFilters: [") >= 2
    assert "BroadcastHashJoin" in plan


def test_chunk_windows_is_fully_narrow(spark):
    """llm_chunk_windows: overlapping-window chunking must plan ZERO
    exchanges — tokenize, integer chunk-count, explode, slice are all
    narrow, which is what makes chunking embarrassingly parallel over a
    100 TB corpus."""
    from hive3_replication_spark.llm.sampling import llm_chunk_windows

    plan = _plan(llm_chunk_windows(spark, SF_DIR), "simple")
    assert "Exchange" not in plan, plan


def test_hypertable_rollup_single_pass(spark):
    """ts_rollup_hypertable: all granularities from ONE hash-aggregate pass
    — an Expand node feeding a single hash-partitioned exchange (one row
    per grouping set, partial-aggregated map-side). A per-granularity
    re-scan or a sort would break the continuous-aggregate cost model."""
    from hive3_replication_spark.operators.timeseries import (
        ts_rollup_hypertable,
    )

    plan = _plan(ts_rollup_hypertable(spark, SF_DIR), "simple")
    assert "Expand" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Sort" not in plan


def test_range_join_is_bucketed_hash_join(spark):
    """join_range: the point-in-interval join must run as an equi hash join
    on the time bucket (intervals exploded into covered buckets), never as
    a BroadcastNestedLoopJoin — the nested-loop form is O(|events| x
    |windows|) and dies at scale even though it produces the same rows."""
    from hive3_replication_spark.operators.joins import join_range

    plan = _plan(join_range(spark, SF_DIR), "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_bigrams_single_tokenize_and_narrow(spark):
    """llm_text_bigrams: the tokenized array must materialize ONCE per doc
    (behind a Generate barrier) — CollapseProject would otherwise inline
    split(text) into every lambda reference, re-tokenizing per element
    (O(len^2), 8x slower at sf0.1). Plan must show exactly one split call
    and no exchange before the vocab-sized aggregate."""
    from hive3_replication_spark.llm.text import llm_text_bigrams

    plan = _plan(llm_text_bigrams(spark, SF_DIR), "simple")
    assert plan.count("split(text") == 1
    assert "TakeOrderedAndProject" in plan


def test_dpp_injects_runtime_partition_filter(spark):
    """filter_dpp: the join-driven date predicate must reach the fact scan
    as a dynamicpruning PartitionFilter — without it the scan reads every
    partition and the join discards them after IO, which is the plan that
    dies at 100 TB."""
    from hive3_replication_spark.operators.filters import filter_dpp

    plan = _plan(filter_dpp(spark, SF_DIR))
    assert "dynamicpruning" in plan


def test_kmeans_iterations_broadcast_centroids(spark):
    """llm_cluster_kmeans: every Lloyd iteration must join the corpus
    against BROADCAST centroids — a shuffled or nested-loop join per
    iteration multiplies the corpus exchange by the iteration count."""
    from hive3_replication_spark.llm.similarity import llm_cluster_kmeans

    plan = _plan(llm_cluster_kmeans(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 3  # K x dim dims ride broadcast
    from hive3_replication_spark.llm.similarity import _KM_ITERS

    assert _KM_ITERS == 3


def test_kmeans_assign_is_narrow(spark):
    """The Lloyd assignment must be a NARROW map over the corpus: the
    array_min argmin over the one-row broadcast centroid array (round-15
    optimization) replaced the K× fan-out + window argmin, so the assign
    subtree may contain no Window, no sort, and no corpus hash exchange —
    at 100 TB the corpus never shuffles for cluster assignment. The
    Generate barrier (explode of the 1-element argmin array) must also
    survive: without it CollapseProject re-evaluates the K×dim distance
    transform per downstream reference (measured 3× the per-row cost)."""
    from pyspark.sql import functions as F

    from hive3_replication_spark.catalog import load_embeddings
    from hive3_replication_spark.llm.similarity import _km_assign

    emb = load_embeddings(spark, SF_DIR)
    pts = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("x")
    )
    cent = pts.limit(8).select(
        F.lit(0).cast("bigint").alias("cluster"), F.col("x").alias("c")
    )
    plan = _plan(_km_assign(pts, cent), "simple")
    assert "Window" not in plan, plan
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "Generate explode" in plan, plan


def test_funnel_reuses_user_partitioning(spark):
    """ts_funnel: the three chained stage window-mins and the per-user
    rollup all ride ONE user_id hash-partitioning — exactly one user_id
    exchange in the whole plan (plus the final single-partition total),
    and no join/cartesian at all."""
    from hive3_replication_spark.operators.timeseries import ts_funnel

    plan = _plan(ts_funnel(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1
    assert "Join" not in plan


def test_bloom_prefilter_semi_join_shape(spark):
    """join_bloom_prefilter: the mask must broadcast and the final
    membership check must plan as a left-semi hash join — a shuffled big
    side before the prefilter would defeat the point."""
    from hive3_replication_spark.operators.joins import join_bloom_prefilter

    plan = _plan(join_bloom_prefilter(spark, SF_DIR), "simple")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_span_dedup_two_hash_aggs(spark):
    """llm_dedup_spans: span construction must stay narrow — the plan's
    only hash exchanges are the span-count groupBy, the doc re-agg, and
    the join back; no sort, no nested loop."""
    from hive3_replication_spark.llm.dedup import llm_dedup_spans

    plan = _plan(llm_dedup_spans(spark, SF_DIR), "simple")
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # the span relation feeds both the count groupBy and the join probe, so
    # the tokenize subtree appears once PER SUBTREE (2 scans) — fine; the
    # O(len^2) failure mode is split() inlined per lambda ELEMENT, which
    # showed up as 3+ occurrences in the bigram regression
    assert plan.count("split(text") <= 2


def test_ngram_scorer_three_exchanges_no_size_joins(spark):
    """ngram_pair_jaccard (round-3 form): per-doc sizes ride the shingle
    rows, so the whole scorer is exactly 3 hash exchanges (vocab df count,
    filtered postings groupBy, pair groupBy) and ONE join (the df
    pre-filter) — no |pairs|-sized size joins after scoring, ever."""
    from hive3_replication_spark.catalog import load_table
    from hive3_replication_spark.llm.dedup import (
        clear_caches,
        ngram_pair_jaccard,
    )

    # drop any persisted shingle relation from earlier tests: Spark's
    # CacheManager substitutes cached plans BY PLAN MATCH, which would
    # swap InMemoryTableScan nodes into this plan and skew the counts
    clear_caches()
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(ngram_pair_jaccard(docs, "plan_gate_probe"), "simple")
    clear_caches()
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("Join") == 1, plan
    assert "CartesianProduct" not in plan


def test_minhash_pipeline_no_cartesian_no_size_blowup(spark):
    """llm_dedup_minhash end-to-end: banding + capped pairing + packed-
    signature scoring must plan with equi-joins only (no cartesian / no
    nested-loop over the corpus) — the zip_with compare rides the
    candidate join, it never widens the plan back to 32 columns."""
    from hive3_replication_spark.llm.dedup import clear_caches, llm_dedup_minhash

    clear_caches()
    plan = _plan(llm_dedup_minhash(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the packed signature column, not 32 mh columns, crosses the joins
    assert "mh0" not in plan


def test_minhash_distinct_carries_scores_not_signatures(spark):
    """Round-15 §2.3 gate: the cross-band distinct must dedupe the SCORED
    survivor rows (doc_a, doc_b, est_jaccard — 2 longs + 1 double), never
    the raw candidate pairs dragging both packed signatures (2×32 longs
    per row) through an array-keyed aggregate. The formatted plan's
    distinct exchange therefore partitions on exactly those three
    columns and no sig_a/sig_b may appear at or above it."""
    from hive3_replication_spark.llm.dedup import clear_caches, llm_dedup_minhash

    clear_caches()
    plan = _plan(llm_dedup_minhash(spark, SF_DIR))
    clear_caches()
    ex_lines = [
        line
        for line in plan.splitlines()
        if "hashpartitioning(doc_a" in line
    ]
    assert ex_lines, plan
    assert all("est_jaccard" in line for line in ex_lines), ex_lines
    assert all("sig" not in line for line in ex_lines), ex_lines


def test_ngram_postings_exchange_not_coalescable(spark):
    """Round-15 §2.5 gate: the postings exchange (the one feeding
    collect_list + the O(cap²) pair expansion) must be a user
    REPARTITION_BY_NUM shuffle — AQE sizes post-shuffle partitions by
    INPUT bytes, but this stage's work is OUTPUT-proportional, and
    letting the coalescer shrink it to input-sized task counts measured
    a 3-task straggler stage holding 4.2 s of CPU at sf0.1."""
    from hive3_replication_spark.catalog import load_table
    from hive3_replication_spark.llm.dedup import (
        clear_caches,
        ngram_pair_jaccard,
    )

    clear_caches()
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(ngram_pair_jaccard(docs, "plan_gate_pin_probe"))
    clear_caches()
    pinned = [
        line
        for line in plan.splitlines()
        if "hashpartitioning(shingle" in line and "REPARTITION_BY_NUM" in line
    ]
    assert pinned, plan


def test_semantic_dedup_broadcast_lloyd_no_cartesian(spark):
    """llm_dedup_semantic: both Lloyd assignment passes must join the
    corpus against BROADCAST centroid relations (the corpus never
    shuffles for clustering), and the within-cell pairing must be an
    equi-join on the cell key — no cartesian anywhere. The two
    intentional broadcast NL joins are the K-row centroid attaches."""
    from hive3_replication_spark.llm.dedup import llm_dedup_semantic
    from hive3_replication_spark.llm.dedup import _sem_vectors
    from hive3_replication_spark.llm.similarity import _km_assign
    from pyspark.sql import functions as F

    plan = _plan(llm_dedup_semantic(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    # the assignment relation is checkpointed (4 consumers → Lloyd runs
    # once); downstream there must be NO nested-loop join of any kind
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # and the pairing is an equi-join on the cell key
    assert "cell" in plan
    # the Lloyd attach itself: centroid relation joins as a BROADCAST
    # nested loop of a K-row build side (corpus never shuffles for it)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pts = _sem_vectors(docs).select(F.col("doc_id").alias("vec_id"), "x")
    cent = pts.limit(8).select(F.lit(0).alias("cluster"), F.col("x").alias("c"))
    a_plan = _plan(_km_assign(pts, cent), "simple")
    assert "BroadcastNestedLoopJoin BuildRight" in a_plan, a_plan
    assert "CartesianProduct" not in a_plan


def test_serving_e2e_band_equijoin_only(spark):
    """llm_serving_e2e: candidates come from the single-int band
    equi-join; the only nested-loop join is the documented eval-side
    brute-force baseline against the 10-row broadcast query relation."""
    from hive3_replication_spark.llm.similarity import llm_serving_e2e

    plan = _plan(llm_serving_e2e(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    # eval baseline only: corpus × broadcast 10-row query set
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_leakage_split_closure_reuses_pair_memo(spark):
    """llm_split_leakage_safe: everything downstream of the closure is
    key-partitioned aggregation — no cartesian, no nested loop; the
    md5 bucket is a narrow projection (no extra exchange for it)."""
    from hive3_replication_spark.llm.dedup import llm_split_leakage_safe

    plan = _plan(llm_split_leakage_safe(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_index_probe_partition_pruning(spark):
    """llm_ann_index_probe: the probe must read ONLY the probed cells'
    directories — a literal cell IN (...) predicate in PartitionFilters,
    i.e. disk-level pruning, not a post-scan filter."""
    from hive3_replication_spark.llm.similarity import llm_ann_index_probe

    plan = _plan(llm_ann_index_probe(spark, SF_DIR))
    pf = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "cell" in pf and " IN " in pf, pf
    assert "CartesianProduct" not in plan


def test_perplexity_filter_no_window_no_cartesian(spark):
    """llm_perplexity_filter: adjacent pairs are built ARRAY-SIDE, so the
    plan must contain no Window node (a lag-based pairing would shuffle
    the full token stream) and no CartesianProduct (the vocab total rides
    a 1-row broadcast cross join); the only exchanges are the bigram /
    context / vocab / doc aggregations and their co-partitioned joins."""
    from hive3_replication_spark.llm.text import llm_perplexity_filter

    plan = _plan(llm_perplexity_filter(spark, SF_DIR), "simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_curriculum_order_single_exchange(spark):
    """llm_curriculum_order: phase arithmetic and the md5 shuffle key are
    narrow; the ONLY exchange is the phase-partitioned window."""
    from hive3_replication_spark.llm.sampling import llm_curriculum_order

    plan = _plan(llm_curriculum_order(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_multimodal_decode_is_narrow(spark):
    """llm_multimodal: binaryFile scan -> project -> ArrowEvalPython /
    MapInPandas with ZERO exchanges — decode must stay embarrassingly
    parallel over an object-store image corpus."""
    from hive3_replication_spark.llm.multimodal import llm_multimodal

    plan = _plan(llm_multimodal(spark, SF_DIR), "simple")
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan, plan
    from hive3_replication_spark.llm.multimodal import llm_multimodal_frames

    fplan = _plan(llm_multimodal_frames(spark, SF_DIR), "simple")
    assert "Exchange" not in fplan, fplan


def test_asof_nearest_single_exchange_no_join(spark):
    """join_asof_nearest: both direction carries must reuse ONE user_id
    exchange (two Window/sort passes, zero join nodes) — the no-non-equi
    as-of shape at any event volume."""
    from hive3_replication_spark.operators.joins import join_asof_nearest

    plan = _plan(join_asof_nearest(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan.replace("BroadcastNestedLoopJoin", ""), plan


def test_lttb_single_series_exchange(spark):
    """ts_downsample_lttb: one event_type exchange feeding the Arrow
    FlatMapGroupsInPandas — the per-series sequential pick chain must not
    introduce any further shuffle."""
    from hive3_replication_spark.operators.timeseries import (
        ts_downsample_lttb,
    )

    plan = _plan(ts_downsample_lttb(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_lttb_hier_distributed_rank_and_pinned_fanout(spark):
    """ts_downsample_lttb_hier: the two single-series scale traps stay
    designed out (docs/SCALE.md, "hierarchical LTTB on a single series
    at 100x": the naive form was 3.5x SLOWER than flat at 2M points):

    - the chunk index must come from the distributed-rank pattern — the
      full-data window is partitioned by (range-partition id, series), so
      NO sort task ever holds a whole series; the only per-series-alone
      window sits on the tiny per-partition offset aggregate;
    - the level-1 grouped map must be fed by an explicit
      repartition(n, keys) exchange (REPARTITION_BY_NUM — not
      AQE-coalescible), so its Arrow groups fan out instead of
      serializing through one post-AQE partition."""
    from hive3_replication_spark.operators.timeseries import (
        ts_downsample_lttb_hier,
    )

    plan = _plan(ts_downsample_lttb_hier(spark, SF_DIR), "simple")
    assert plan.count("FlatMapGroupsInPandas") == 2, plan
    assert "REPARTITION_BY_NUM" in plan, plan
    # exactly one full-data window, and it is pid-partitioned
    assert plan.count("windowspecdefinition(pid") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_acf_single_exchange(spark):
    """ts_acf: the three lag columns share one window spec and the final
    agg reuses the window's event_type partitioning — ONE exchange total,
    like the EWMA/changepoint family."""
    from hive3_replication_spark.operators.timeseries import ts_acf

    plan = _plan(ts_acf(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1, plan


def test_weighted_median_window_over_preagg(spark):
    """agg_weighted_median: the window input must be the per-price
    aggregate (|distinct prices| rows), never the fact table — the
    HashAggregate sits below the Window; no cartesian anywhere."""
    from hive3_replication_spark.operators.aggregates import (
        agg_weighted_median,
    )

    plan = _plan(agg_weighted_median(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, plan
    win_pos = plan.index("Window")
    # a pre-aggregation (partial+final pair) exists below the window
    assert "HashAggregate" in plan[win_pos:], plan


def test_importance_resample_no_shuffle(spark):
    """llm_importance_resample: the keep predicate is a narrow filter in
    the scan stage — NO exchange of any kind in the plan."""
    from hive3_replication_spark.llm.sampling import llm_importance_resample

    plan = _plan(llm_importance_resample(spark, SF_DIR), "simple")
    assert "Exchange" not in plan, plan


def test_jdbc_partitioned_read_parallelism(spark):
    """scan_jdbc_partitioned: the JDBC relation must carry the 8-way
    stripe split (the parallel-ingest property the operator exists for)."""
    from hive3_replication_spark.sources.readers import scan_jdbc_partitioned

    df = scan_jdbc_partitioned(spark, SF_DIR)
    plan = _plan(df, "simple")
    assert "numPartitions=8" in plan, plan


def test_weighted_median_histogram_broadcasts_and_preaggs(spark):
    """skew.weighted_median_histogram (round-8 A26 fallback): all three
    control-plane joins (bounds, target bucket, totals) must broadcast —
    they carry K-ish rows — so the fact table is never shuffled on the
    group key for a join; the per-bucket and per-price reductions are
    hash aggregates; no cartesian, no sort-merge join anywhere."""
    from hive3_replication_spark.operators.skew import (
        weighted_median_histogram,
    )
    from hive3_replication_spark.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    plan = _plan(
        weighted_median_histogram(
            li, "l_returnflag", "l_extendedprice", "l_quantity"
        ),
        "simple",
    )
    assert "CartesianProduct" not in plan, plan
    # EVERY join must broadcast (Catalyst re-derives the K-row bounds
    # relation per consumer, so the count is >=3, not ==3); none may
    # shuffle the fact on the group key
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "HashAggregate" in plan, plan


def test_quantile_sketch_bounded_sorts_single_dag(spark):
    """agg_quantile_sketch (round-9 A27): both rank filters must run as
    WindowGroupLimits — _QSK_M sits one under Spark's
    windowGroupLimitThreshold precisely so no executor ever materializes
    more than m rows per group in the build sorts. The whole operator is
    ONE DAG: 3 exchanges (day-window reused by the sketch groupBy, merge
    window, verification agg), the events scanned exactly twice (build +
    verification — never once per estimate branch), the 6-row estimate
    relation broadcast; no cartesian / nested-loop anywhere."""
    from hive3_replication_spark.operators.aggregates import (
        agg_quantile_sketch,
    )

    plan = _plan(agg_quantile_sketch(spark, SF_DIR), "simple")
    assert "WindowGroupLimit" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert plan.count("FileScan") == 2, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_stl_two_windows_no_recompute(spark):
    """ts_stl_decompose (round-9 TS19): the seasonal stage is a window
    over the interior rows — not a groupBy + join back, which would have
    recomputed the grid subtree. Two exchanges (hourly agg; the per-
    stream window, whose (type, hod) sibling reuses it), two grid scans
    (counts + per-type bounds — the _hourly_counts contract), no join
    of the fact to itself."""
    from hive3_replication_spark.operators.timeseries import (
        ts_stl_decompose,
    )

    plan = _plan(ts_stl_decompose(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_holt_winters_one_stream_exchange(spark):
    """ts_holt_winters (round-10 TS20): the per-type totals, the 48-row
    trailing frame, and the band sums all share ONE (event_type)
    partitioning — four Window nodes, only Sorts between them. Exactly
    the two _hourly_counts exchanges exist (hourly agg; the stream
    partitioning), two grid scans, and no join of the fact to itself."""
    from hive3_replication_spark.operators.timeseries import (
        ts_holt_winters,
    )

    plan = _plan(ts_holt_winters(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 2, plan
    assert plan.count("Window") == 4, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_line_boilerplate_skew_safe_groupby(spark):
    """llm_line_boilerplate (round-10 L33): the line frequency runs as a
    partially-aggregated groupBy, NEVER a window — boilerplate lines are
    hot by definition, and a (PARTITION BY line) window would funnel a
    10⁹-copy cookie banner into one window partition. The ≥T frequent
    set is small, so the drop step broadcasts it against the second
    narrow corpus pass (the two-pass C4 shape): exactly 2
    hashpartitioning exchanges (line agg + doc reassembly), 2 scans,
    one broadcast left join, no window node, no cartesian."""
    from hive3_replication_spark.llm.text import llm_line_boilerplate

    plan = _plan(llm_line_boilerplate(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 2, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "Window" not in plan, plan
    for join in ("SortMergeJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert join not in plan, (join, plan)


def test_chunk_rank_no_corpus_shuffle(spark):
    """llm_chunk_rank (round-9 L30): corpus stats are ONE single-row
    aggregate broadcast back; scoring is narrow; top-k is
    TakeOrderedAndProject. The corpus is NEVER hash-shuffled — zero
    hashpartitioning exchanges in the whole plan."""
    from hive3_replication_spark.llm.retrieval import llm_chunk_rank

    plan = _plan(llm_chunk_rank(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_preference_pairs_single_corpus_pass(spark):
    """llm_preference_pairs (round-9 L31): the corpus is scanned ONCE and
    hash-shuffled ONCE (the bucket-key ranking window; the pair groupBy
    runs on the same partitioning since its keys contain the bucket key).
    The chosen/rejected halves assemble by role-tagged aggregation, not a
    self-join — no join operator of any kind in the plan."""
    from hive3_replication_spark.llm.sampling import llm_preference_pairs

    plan = _plan(llm_preference_pairs(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 1, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, (join, plan)


def test_interval_overlap_bucket_equijoin_no_theta(spark):
    """join_interval_overlap (round-9 J17): the overlap must run as a
    bucket EQUI-join (broadcast/shuffled hash or SMJ — never a
    nested-loop theta join or cartesian), and the exactly-once bucket
    filter means NO dedup pass: exactly the two island-building
    exchanges exist (sessions on user_id, bursts on event_type) — a
    third would be a distinct/dedup shuffle."""
    from hive3_replication_spark.operators.joins import (
        join_interval_overlap,
    )

    plan = _plan(join_interval_overlap(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 2, plan


def test_eval_calibration_one_agg_bounded_window(spark):
    """llm_eval_calibration (round-10 L36): prediction/confidence are
    narrow codegen over ONE corpus scan; one hash agg to ≤10 bin rows;
    the ECE total is a window over those rows (bounded by construction)
    — never a second corpus pass or a join-back."""
    from hive3_replication_spark.llm.text import llm_eval_calibration

    plan = _plan(llm_eval_calibration(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 1, plan
    for join in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan, (join, plan)


def test_eval_ndcg_single_query_exchange(spark):
    """llm_eval_ndcg (round-10 L34): queries broadcast against the
    corpus; ONE (q_id) exchange serves both the rank window and the
    grade-count window sums (the ideal DCG needs no sort — prefix-sum
    arithmetic over grade counts); the rank filter bounds the final agg.
    No corpus self-join, no cartesian."""
    from hive3_replication_spark.llm.retrieval import llm_eval_ndcg

    plan = _plan(llm_eval_ndcg(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mmr_rerank_zero_exchange_fold(spark):
    """llm_mmr_rerank (round-10 L35): the greedy loop runs as a
    higher-order fold over the collected ≤100-row candidate array — no
    driver loop, no self-join, no UDF. The corpus is touched exactly as
    _rrf_fused touches it plus ONE broadcast-probe for the candidate
    embeddings: zero hashpartitioning exchanges end to end."""
    from hive3_replication_spark.llm.retrieval import llm_mmr_rerank

    plan = _plan(llm_mmr_rerank(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "CartesianProduct" not in plan, plan
    # the only joins: the arms' 1-row stats/query-vector broadcasts (the
    # _bm25_score cross shape rank_fusion's gate also accepts), the
    # bounded K-row fusion outer join, and the candidate-embedding
    # broadcast probe
    assert plan.count("TakeOrderedAndProject") >= 2, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_rank_fusion_bounded_fusion_no_corpus_shuffle(spark):
    """llm_rank_fusion (round-9 L32): both arms reach their candidate
    lists via TakeOrderedAndProject (plus the fused top-10 — three
    total), corpus stats and the query vector are broadcasts, and the
    corpus is NEVER hash-shuffled: everything after the arm scans is
    bounded by the two 50-row lists."""
    from hive3_replication_spark.llm.retrieval import llm_rank_fusion

    plan = _plan(llm_rank_fusion(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert plan.count("TakeOrderedAndProject") == 3, plan
    assert "CartesianProduct" not in plan, plan


def test_url_canonicalize_narrow_projection_doc_id_only(spark):
    """llm_url_canonicalize (round-11 L38): the whole canonicalization is
    ONE narrow codegen projection — zero exchanges, zero joins — and the
    synthetic URL derives from doc_id alone, so column pruning must cut
    the read schema to that single column (a canonicalizer that drags
    `text` through the scan would read the whole corpus for a URL pass)."""
    from hive3_replication_spark.llm.web import llm_url_canonicalize

    plan = _plan(llm_url_canonicalize(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "doc_id" in read_schema, read_schema
    assert "text" not in read_schema, read_schema


def test_dedup_url_single_combinable_agg(spark):
    """llm_dedup_url (round-11 L2e): exactly ONE hash exchange (the
    canon_url groupBy) over one scan, with the partial aggregate present
    — hot mirror URLs collapse map-side before the shuffle, the property
    that makes the agg safe under a 10⁹-copy hot URL."""
    from hive3_replication_spark.llm.web import llm_dedup_url

    plan = _plan(llm_dedup_url(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final
    assert "Join" not in plan, plan


def test_domain_authority_broadcast_rank_iterations(spark):
    """llm_domain_authority (round-11 L37): the returned (last-iteration)
    plan must be: prior state (checkpointed RDD scan) left-joined to a
    BROADCAST mass relation built as edges(cached) ⋈ broadcast(rank
    vector) with a PARTIAL sum before its one exchange — the corpus is
    never rescanned or shuffled by an iteration, and no sort-merge or
    cartesian appears anywhere."""
    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.llm.web import llm_domain_authority

    clear_caches()
    plan = _plan(llm_domain_authority(spark, SF_DIR), "simple")
    clear_caches()
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the top-level section (before the cached edge relation's stored
    # build plan is echoed) is the iteration itself
    top = plan.split("InMemoryRelation")[0]
    assert top.count("BroadcastHashJoin") == 2, top
    assert top.count("Exchange hashpartitioning") == 1, top
    assert "partial_sum" in top, top
    assert "Scan ExistingRDD" in top, top  # the checkpointed loop state


def test_domain_graph_edge_build_single_corpus_scan(spark):
    """llm_domain_authority's edge build (the only corpus-sized stage):
    one documents scan, broadcast attach of the cached domain-id relation,
    the 1-row domain-count broadcast (the _bm25_score scalar idiom is the
    only nested-loop join), and a partially-aggregated edge groupBy."""
    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.llm.web import _domain_graph

    clear_caches()
    _, edges = _domain_graph(spark, SF_DIR)
    plan = _plan(edges, "formatted")
    simple = _plan(edges, "simple")
    clear_caches()
    # exactly ONE executed corpus scan, pruned to (doc_id, lang, source);
    # further FileScan lines in the simple text are the cached domain
    # relation's ECHOED build plan (filled once), which reads doc_id never
    assert (
        simple.count("ReadSchema: struct<doc_id:bigint") == 1
    ), simple
    assert "SortMergeJoin" not in simple, simple
    assert "CartesianProduct" not in simple, simple
    assert "partial_count" in simple, simple
    # the 1-row domain-count broadcast rides a nested-loop join (the
    # _bm25_score scalar idiom)
    assert "BroadcastNestedLoopJoin" in simple, simple


def test_forecast_backtest_adds_no_exchange_to_holt(spark):
    """ts_forecast_backtest (round-11 TS21): the naive-forecast lag and
    the final per-stream agg must BOTH reuse ts_holt_winters' existing
    (event_type) partitioning — the backtest plan carries exactly the
    TS20 plan's 2 exchanges / 2 scans / 4 window nodes and nothing more."""
    from hive3_replication_spark.operators.timeseries import (
        ts_forecast_backtest,
    )

    plan = _plan(ts_forecast_backtest(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 2, plan
    assert plan.count("Window") == 4, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_pack_quality_adds_no_exchange_to_packing(spark):
    """llm_pack_quality (round-11 L10b): both roll-ups — (shard, seq_no)
    and shard — are satisfied by L10's existing (shard) hash
    partitioning (shard is a subset of both grouping key sets), so the
    whole quality report plans with L10's single exchange, one scan, one
    window, and no join."""
    from hive3_replication_spark.llm.sampling import llm_pack_quality

    plan = _plan(llm_pack_quality(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def test_anomaly_mad_histogram_medians_no_buffering(spark):
    """ts_anomaly_mad (round-11 TS22): both medians must run over the
    quantized-value HISTOGRAM (map-side-combinable groupBy + a bounded
    crossing window) — never Spark's buffering median/percentile
    aggregate — with the stream-count med relation checkpointed and both
    median relations BROADCAST back onto the fact: 2 hash exchanges
    (the MAD histogram + its window; the med subtree is the checkpointed
    RDD), 2 narrow fact scans, 3 broadcast joins, no sort-merge."""
    from hive3_replication_spark.operators.timeseries import ts_anomaly_mad

    plan = _plan(ts_anomaly_mad(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert plan.count("FileScan") == 2, plan
    assert plan.count("Window") == 2, plan
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "Scan ExistingRDD" in plan, plan  # the checkpointed med
    assert "percentile" not in plan and "Median" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # BOTH fact scans are pruned to the 3 columns the operator touches
    # (the plan has two; checking only the first would let a widened
    # second scan through — round-11 review)
    schemas = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ]
    assert len(schemas) == 2, plan
    for read_schema in schemas:
        assert "props" not in read_schema and "ts:" not in read_schema, (
            read_schema
        )


def test_html_extract_narrow_projection_prunes_unused(spark):
    """llm_html_extract (round-12 L39): the whole synth→strip→decode
    pipeline is ONE narrow codegen projection — zero exchanges, zero
    joins — and column pruning must drop the one column the extractor
    never touches (n_chars); an extractor that dragged the full row
    through the scan would pay for columns it discards at 100 TB."""
    from hive3_replication_spark.llm.web import llm_html_extract

    plan = _plan(llm_html_extract(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    read_schema = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    for col in ("doc_id", "text", "lang", "source"):
        assert col in read_schema, read_schema
    assert "n_chars" not in read_schema, read_schema


def test_classifier_trainset_tiny_stats_broadcast(spark):
    """llm_classifier_trainset (round-12 L40): class statistics must be
    the ONE map-side-combinable source-count agg (partial_count before
    its single hash exchange; output is source-count-sized), folded and
    broadcast as a 1-row relation onto a narrow labeling pass — the
    stats scan pruned to `source` alone, no corpus-sized shuffle, no
    sort-merge anywhere."""
    from hive3_replication_spark.llm.sampling import llm_classifier_trainset

    plan = _plan(llm_classifier_trainset(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("FileScan") == 2, plan
    assert "partial_count" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "struct<source:string>" in plan, plan  # pruned stats scan


def test_kn_bigram_single_pair_join_no_cartesian(spark):
    """llm_kn_bigram_lm (round-13 L41): the pair stream must join the
    enriched model relation ONCE — the only nested-loop join is the
    1-row N1+(·,·) total (scalar broadcast), never a cartesian — and
    every scan is pruned to the two columns the op consumes (doc_id,
    text); the L12c shape this improves joined the pair stream three
    times on three different keys."""
    from hive3_replication_spark.llm.text import llm_kn_bigram_lm

    plan = _plan(llm_kn_bigram_lm(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("FileScan") == 6, plan
    for line in plan.splitlines():
        if "FileScan" in line:
            assert "lang" not in line and "n_chars" not in line, line


def test_domain_mix_reweight_window_folds_three_scans(spark):
    """llm_domain_mix_reweight (round-13 L42): the corpus-loss baseline
    and ΣA normalizer must fold as unbounded windows over the
    |sources|-row domains relation — NOT as a cascade of agg + crossJoin
    scalar folds, which replanned the token stream once per fold (12
    corpus scans before the rewrite; 3 after: tokd, freq, corpus-total
    chains). The only nested-loop join is the 1-row token total."""
    from hive3_replication_spark.llm.sampling import llm_domain_mix_reweight

    plan = _plan(llm_domain_mix_reweight(spark, SF_DIR), "simple")
    assert plan.count("FileScan") == 3, plan
    assert plan.count("Exchange hashpartitioning") == 6, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" in plan, plan
    for line in plan.splitlines():
        if "FileScan" in line:
            assert "lang" not in line and "n_chars" not in line, line


def test_cross_correlation_fact_reduced_before_pairing(spark):
    """ts_cross_correlation (round-13 TS23): the fact stream must be
    reduced to hourly sums BEFORE any pairing — two pruned fact scans
    (x/y hourly builds), three hash exchanges (two hourly groupBys +
    the final (pair, lag) stats agg), the NULL filters pushed into the
    scan, and no cartesian/nested-loop anywhere: the lag grid explodes
    array-side on the compact hourly relation, never on the fact."""
    from hive3_replication_spark.operators.timeseries import (
        ts_cross_correlation,
    )

    plan = _plan(ts_cross_correlation(spark, SF_DIR), "simple")
    assert plan.count("FileScan") == 2, plan
    assert plan.count("Exchange hashpartitioning") == 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "isnotnull(value" in plan, plan
    assert "isnotnull(event_type" in plan, plan
    for line in plan.splitlines():
        if "FileScan" in line:
            assert "user_id" not in line and "props" not in line, line


def _executed_node_classes(df) -> list[str]:
    """Class names of every physical node the final query actually
    executes, walked on the real plan TREE via py4j. On the tree an
    InMemoryTableScanExec is a LEAF — its cached relation's build plan
    is a field, not a child — whereas ``explainString`` prints every
    cached build plan recursively (with trailer blocks that dodge any
    indentation heuristic), so a text scrape cannot express "consumes
    cached state only"."""
    names: list[str] = []

    def visit(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            visit(node.executedPlan())
            return
        names.append(name)
        children = node.children()
        for i in range(children.length()):
            visit(children.apply(i))

    visit(df._jdf.queryExecution().executedPlan())
    return names


def test_unigram_consumes_cached_state_only(spark):
    """llm_unigram_tokenizer (round-14 L75): the emitted relation must
    plan entirely over the PERSISTED vocab/model-state relations — zero
    corpus file scans at consume time (the corpus's one pass happened at
    the materializing build; without the state persists, round r's
    lineage embeds round r−1's three times and plan compilation goes
    exponential in rounds — measured 17 s flat-in-data wall, 7.9 s
    after). The only nested-loop joins are the two 1-row Σc totals
    (scalar broadcast, one per emitted round); no cartesian, no
    sort-merge join — the ≤256-row state relations broadcast."""
    from hive3_replication_spark.llm.text import llm_unigram_tokenizer

    nodes = _executed_node_classes(llm_unigram_tokenizer(spark, SF_DIR))
    assert "InMemoryTableScanExec" in nodes, nodes
    assert "FileSourceScanExec" not in nodes, nodes
    assert "BatchScanExec" not in nodes, nodes
    assert "CartesianProductExec" not in nodes, nodes
    assert nodes.count("BroadcastNestedLoopJoinExec") == 2, nodes
    assert "SortMergeJoinExec" not in nodes, nodes


def test_unigram_apply_single_corpus_pass(spark):
    """llm_unigram_apply (round-15 L76): the apply must consume the
    trainer's PERSISTED vocab/model state — exactly ONE corpus file
    scan (the (lang, word) count pass), InMemoryTableScan leaves for
    the state relations, and ZERO scalar nested-loop totals (the Σc
    normalizer already lives inside the persisted model relation); no
    cartesian anywhere. This is the gate the round-14 verdict asked
    for: apply consumes cached state, never re-derives the EM chain."""
    from hive3_replication_spark.llm.text import llm_unigram_apply

    nodes = _executed_node_classes(llm_unigram_apply(spark, SF_DIR))
    assert "InMemoryTableScanExec" in nodes, nodes
    assert nodes.count("FileSourceScanExec") == 1, nodes
    assert "CartesianProductExec" not in nodes, nodes
    assert "BroadcastNestedLoopJoinExec" not in nodes, nodes


def test_min_cost_supplier_decorrelates_broadcast_dims(spark):
    """sql_min_cost_supplier (round-13 Q2s): Catalyst must decorrelate
    the `= (SELECT MIN …)` into an aggregate joined back on p_partkey —
    no nested-loop/cartesian per-row re-execution — with lineitem
    scanned exactly twice (main ps + subquery ps), every dim chain
    broadcast, and the EUROPE region filter pushed into both region
    scans."""
    from hive3_replication_spark.operators.sql_queries import (
        sql_min_cost_supplier,
    )

    plan = _plan(sql_min_cost_supplier(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("FileScan") == 9, plan
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert plan.count("(r_name") >= 2, plan  # pushed EUROPE filter x2


def test_merge_scd2_single_join(spark):
    """merge_scd2 (round-15 optimization): the three output classes must
    come from ONE full-outer join — the previous filter+union form
    embedded the join subtree in every arm (Catalyst does not CSE across
    union arms), executing the join three times and scanning customer
    six times."""
    from hive3_replication_spark.operators.joins import merge_scd2

    plan = _plan(merge_scd2(spark, SF_DIR), "simple")
    joins = sum(plan.count(j) for j in (
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"
    ))
    assert joins == 1, plan
    assert plan.count("FileScan") == 2, plan


def test_count_min_aggregates_before_explode(spark):
    """agg_count_min (round-15 optimization): events must fold to per-user
    counts BEFORE the d-way hash-row explode, so the exploded/shuffled
    volume is |users|·d, not |events|·d — the Generate nodes sit above
    the user_id aggregation, never directly on the scan."""
    from hive3_replication_spark.operators.aggregates import agg_count_min

    plan = _plan(agg_count_min(spark, SF_DIR), "formatted")
    lines = plan.splitlines()
    # In formatted mode each Generate's detail block carries its explode
    # plus requiredChildOutput on an "Arguments:" line — the relation
    # being exploded must carry exact_n (the per-user count), which only
    # exists post-aggregation, proving the fold happens before the d-way
    # hash-row fan-out on BOTH the sketch and probe branches.
    gen_args = [
        l for l in lines if l.startswith("Arguments:") and "explode" in l
    ]
    assert len(gen_args) == 2, plan
    assert all("exact_n" in l for l in gen_args), plan
