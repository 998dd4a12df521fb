"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE COMPACT JSON line (< 2000 chars — the verify driver captures
only a 2000-char stdout tail, so rounds 3-4 lost the full per-key JSON to
truncation; VERDICT r4 item 2):
  {"metric": "...", "value": <total_sec>, "unit": "sec", "runs": N_PASSES,
   "queries": {"<name>": <sec>, ...10 slowest only...},
   "n_queries": <headline count>,
   "e2e": {"repl_bootstrap_e2e": <sec>, "repl_incremental_e2e": <sec>},
   "scale_ratios": {"<name>": <x10/base>, ...}, "e2e_x10": {...},
   "pairs": {"ngram_base": n, "ngram_x10": n},
   "detail_file": "BENCH_DETAIL.json", "sf": <sf>}

The FULL per-key record (all headline timings, complete scale-probe
rows, e2e) is written to ``detail_file`` at the repo root — committed
per-round as the durable timing history.

(`queries_min`, emitted in rounds 1-3, was identical to `queries` by
construction — per-query MIN over the passes — and is dropped as of
round 4; `queries` IS the per-query min. As of round 5 stdout `queries`
holds only the 10 slowest; the detail file holds all of them.)

The headline set covers every operator family from SURVEY.md §2: scan
pushdown, broadcast + shuffle joins, grouped/windowed aggregation, the
as-of join, incremental dump + replay (the reference's core), and the LLM
extensions (exact + MinHash dedup, cosine top-k, tokenization). Comparison
target: BASELINE.md (reference bootstrap ≈ 36.7 s / incremental ≈ 45.5 s,
both dominated by fixed overheads — the guard here is per-row throughput).

HEADLINE-SET POLICY (frozen as of round 3): the measured set is FROZEN;
per-query times are comparable round-over-round; new operator families
may add at most one representative key each, and any change to the set
must be called out here. Round-4 additions (two new families):
`llm_dedup_semantic` (composed SemDeDup: k-means cells + cosine pruning)
and `llm_serving_e2e` (composed retrieval serving stack). All pre-round-4
keys and their timings are unchanged. `queries` holds the
per-query MIN over `runs` complete passes (steady-state throughput —
local-mode scheduling jitter adds ±30% to sub-second jobs). The `e2e`
map times the full replication pipeline (bootstrap, then incremental)
at the bench SF — directly comparable to the reference's transcript
wall-times above — and is deliberately NOT part of the headline total.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

from hive3_replication_spark.registry import build_queries
from hive3_replication_spark.session import get_spark

#: Complete measured passes over the headline set; the reported per-query
#: number is the MIN across passes. Single source of truth for the loop
#: AND the emitted "runs" field.
N_PASSES = 2

HEADLINE = (
    "scan_parquet",
    "scan_partitioned",
    "scan_bucketed",
    "join_broadcast",
    "join_sortmerge",
    "join_asof",
    "agg_groupby",
    "agg_rollup",
    "agg_percentile",
    "reshape_pivot",
    "ts_resample",
    "win_latest_per_group",
    "win_running_sum",
    "stream_incremental_dump",
    "stream_event_replay",
    "stream_tumbling",
    "stream_session",
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_dedup_ngram",
    "llm_dedup_clusters",
    "llm_similarity_topk",
    "llm_text_tokens",
    "llm_text_fingerprint",
    "llm_text_repetition",
    "llm_pack_sequences",
    "win_topk_per_group",
    "ts_interpolate",
    "sql_pricing_summary",
    "sql_shipping_priority",
    "sql_local_supplier_volume",
    "sql_returned_items",
    "sql_large_volume_customer",
    "sql_market_share",
    "sql_waiting_supplier",
    "ts_ohlc",
    "llm_text_keywords",
    "join_snapshot_diff",
    "agg_table_profile",
    "snapshot_load",
    "llm_chunk_windows",
    "llm_mix_sources",
    "join_range",
    "merge_scd2",
    "agg_count_min",
    "agg_corr",
    "llm_sample_temperature",
    "llm_shard_assign",
    "llm_vocab_coverage",
    "llm_text_bigrams",
    "stream_stream_join",
    "llm_cluster_kmeans",
    "llm_ann_rescore",
    "llm_dedup_spans",
    "llm_quality_classifier",
    "agg_bitmap_distinct",
    "agg_regression",
    "filter_dpp",
    "ts_funnel",
    "ts_retention_cohort",
    "ts_anomaly_zscore",
    "sql_recursive_hierarchy",
    "win_distinct_running",
    "ts_ewma",
    "llm_dedup_graph_stats",
    "llm_eval_confusion",
    "llm_eval_ranking",
    "scan_schema_evolution",
    "join_bloom_prefilter",
    "llm_doc_embed_hash",
    "fn_try_arith",
    # round-4 family representatives (see HEADLINE-SET POLICY above)
    "llm_dedup_semantic",
    "llm_serving_e2e",
)


def _bench_replication(spark, sf_dir: str) -> dict[str, float]:
    """Time the full replication pipeline end-to-end at the bench SF —
    the engine's version of the reference's golden transcripts
    (``README.md:59-90``: bootstrap 36.7 s, incremental 45.5 s). Setup
    (building a source copy with the last ~10% of events held back) is
    NOT measured; each timed row is one ``run_replication`` call exactly
    as a production scheduler would invoke it.

    Callers wanting the steady-state number should take the min over two
    calls (``_bench_replication_min``): a single call mixes per-row
    throughput with first-compile fixed costs (whole-stage codegen for the
    repl plans), which measured ±1.4 s of pure jitter on identical code —
    the r3→r4 "regression" (1.49→2.51 s incremental) was exactly this;
    diagnosed in scripts/diag_e2e_regression.py, where e2e AFTER the
    headline passes was FASTER than a fresh-session run (warm codegen),
    ruling out accumulated-state contention."""
    import glob
    import shutil
    import tempfile
    from pathlib import Path

    from pyspark.sql import functions as F

    from hive3_replication_spark.repl.model import STATUS_SUCCESS, ReplConfig
    from hive3_replication_spark.repl.pipeline import run_replication

    base = tempfile.mkdtemp(prefix="h3r_bench_repl_")
    src = os.path.join(base, "source")
    os.makedirs(src)
    for p in glob.glob(f"{sf_dir.rstrip('/')}/*.parquet"):
        name = Path(p).stem
        if name == "events":
            continue
        if os.path.isdir(p):
            shutil.copytree(p, f"{src}/{name}.parquet")
        else:
            shutil.copy(p, f"{src}/{name}.parquet")
    ev = spark.read.parquet(f"{sf_dir.rstrip('/')}/events.parquet")
    max_id = ev.agg(F.max("event_id")).collect()[0][0]
    cut = int(max_id * 0.9)
    ev.filter(F.col("event_id") <= cut).write.parquet(f"{src}/events.parquet")
    cfg = ReplConfig(
        db_name="benchrepl",
        source_root=src,
        target_root=os.path.join(base, "target"),
        repl_root=os.path.join(base, "repl"),
        db_allowlist=("benchrepl",),
    )
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    r1 = run_replication(spark, cfg, f"{base}/run", f"{base}/wm")
    out["repl_bootstrap_e2e"] = round(time.perf_counter() - t0, 3)
    assert r1["mode"] == "bootstrap" and r1["status"] == STATUS_SUCCESS, r1
    ev.filter(F.col("event_id") > cut).write.mode("append").parquet(
        f"{src}/events.parquet"
    )
    t0 = time.perf_counter()
    r2 = run_replication(spark, cfg, f"{base}/run", f"{base}/wm")
    out["repl_incremental_e2e"] = round(time.perf_counter() - t0, 3)
    assert r2["mode"] == "incremental" and r2["status"] == STATUS_SUCCESS, r2
    shutil.rmtree(base, ignore_errors=True)
    return out


#: Keys probed at 10x data (the 5 most expensive r3 keys — VERDICT item 2):
#: the 100 TB scaling claims are design arguments + plan gates; this block
#: MEASURES the growth curve. Near-linear (ratio ~<= 12 at 10x data) is the
#: pass bar; the fixture's fixed per-job overhead makes sub-linear ratios
#: common for sub-second keys.
SCALE_PROBE_KEYS = (
    "llm_dedup_ngram",
    "llm_dedup_minhash",
    "llm_cluster_kmeans",
    "sql_recursive_hierarchy",
    "llm_ann_batch",
    # round-4 composed operators — probed from their first round
    "llm_dedup_semantic",
    "llm_serving_e2e",
    # round-5 additions (VERDICT r4 item 8): the two production-serving
    # shapes not previously probed — persisted-index ANN and the
    # batch-vs-corpus incremental dedup
    "llm_ann_index_probe",
    "llm_dedup_incremental",
    # round-7 additions (VERDICT r6 ask #3): both LTTB variants, so the
    # hierarchical rewrite's growth curve is recorded next to the flat
    # chain it mitigates (the 100x single-series exponents live in
    # docs/SCALE.md via scripts/probe_lttb_hier.py)
    "ts_downsample_lttb",
    "ts_downsample_lttb_hier",
    # round-7 operators with a window in the plan — probe their growth
    # curve from their first round
    "ts_acf",
    "agg_weighted_median",
    # round-9 operators — probed from their first round: the sketch's
    # WindowGroupLimit build, the STL window chain, the bucket-blocked
    # interval join (the one with data-dependent pair volume), and the
    # TakeOrdered-only fusion (expected ~flat: arm lists are fixed-K)
    "agg_quantile_sketch",
    "ts_stl_decompose",
    "join_interval_overlap",
    "llm_rank_fusion",
    # round-10 operators — probed from their first round: the Holt filter
    # window chain over the hour grid, the line-frequency corpus shuffle,
    # and the corpus×queries eval scan. llm_mmr_rerank is deliberately
    # NOT probed: its data-proportional part IS llm_rank_fusion's arm
    # scans (already probed) plus a fixed-K fold.
    "ts_holt_winters",
    "llm_line_boilerplate",
    "llm_eval_ndcg",
    # round-11 operators — probed from their first round: the canonical-URL
    # hot-key agg, the edge-relation build + broadcast-rank iterations, and
    # the backtest's window chain over the 10x hour grid. llm_url_canonicalize
    # (pure narrow projection) and llm_pack_quality (L10's window + two
    # partitioning-reusing aggs) are deliberately NOT probed — their
    # data-proportional parts are scans/windows already measured elsewhere.
    "llm_dedup_url",
    "llm_domain_authority",
    "ts_forecast_backtest",
    # the MAD histograms saturate in cardinality like the domain graph —
    # the wall ratio is the evidence
    "ts_anomaly_mad",
    # round-12 operators deliberately NOT probed: llm_html_extract is a
    # pure narrow projection (L38's rationale — its data-proportional
    # part is the scan itself) and llm_classifier_trainset is one
    # source-count agg (llm_dedup_url's combinable-agg shape, already
    # probed) plus a narrow labeled pass.
    # round-13 operators — probed from their first round: the KN scorer's
    # pair-stream + bigram-type model build, the CCF's hourly reduction +
    # lag-grid pairing (hour-grid-proportional like the Holt chain), and
    # the DoReMi (source, tok) shuffle + window folds.
    # sql_min_cost_supplier is deliberately NOT probed: its
    # data-proportional part is the lineitem (partkey, suppkey) groupBy —
    # the same shuffled-fact-agg shape the probed SQL/agg keys measure —
    # under a dim-filtered decorrelated join.
    "llm_kn_bigram_lm",
    "ts_cross_correlation",
    "llm_domain_mix_reweight",
    # round-14 operators — probed from their first round: scan_zorder's
    # data-proportional part is the pruned scan over the z-ordered layout
    # (the one-time clustered write is dir-cached across passes, so the
    # min-over-passes measures the amortized read path — the
    # llm_ann_index_probe convention for persisted-layout keys); the
    # unigram trainer's is ONE corpus word-count pass — everything after
    # is vocab-sized (≤256-row state), so its ratio measures that the
    # planning-dominated EM cost stays flat in data.
    "scan_zorder",
    "llm_unigram_tokenizer",
    # round-15 operator — probed from its first round: the apply's
    # data-proportional part is the single (lang, word) corpus count
    # exchange; the Viterbi lattice + rollup are vocab-sized over the
    # trainer's persisted state, so the ratio should track the corpus
    # pass (~linear scan, sublinear wall at this size).
    "llm_unigram_apply",
)


def _bench_replication_min(spark, sf_dir: str, passes: int = N_PASSES):
    """Per-row min over ``passes`` full e2e runs (see _bench_replication)."""
    out: dict[str, float] = {}
    for _p in range(passes):
        for key, sec in _bench_replication(spark, sf_dir).items():
            out[key] = min(sec, out.get(key, float("inf")))
    return out


def _ngram_pair_counts(spark, sf_dir: str, probe_dir: str) -> dict:
    """Candidate-pair volume for the exact-ngram scorer at base and 10x —
    the denominator behind llm_dedup_ngram's 10x time ratio (VERDICT r4
    item 5: pair volume, not row count, is the true cost driver; the
    MAX_BUCKET cap bounds it at O(Σ block²)). Counts the pre-threshold
    scored relation (min_jaccard=0 keeps every candidate; memo bypassed so
    the probe never pollutes the production memo)."""
    from hive3_replication_spark.catalog import load_table
    from hive3_replication_spark.llm.dedup import ngram_pair_jaccard

    out = {}
    for tag, d in (("ngram_base", sf_dir), ("ngram_x10", probe_dir)):
        docs = load_table(spark, d, "documents")
        out[tag] = ngram_pair_jaccard(
            docs, f"pairprobe_{tag}", memo_token=None, min_jaccard=0.0
        ).count()
    return out


def _web_counts_one(spark, d: str) -> dict:
    """THE canonical L2e/L37 volume-counter definitions for ONE sf_dir —
    shared by the bench probe and scripts/probe_web_scaling.py (round-11
    review: two independent copies would silently diverge on an output
    rename): canonical-URL group count (llm_dedup_url's output
    cardinality) and total domain-graph edge MASS Σw
    (llm_domain_authority's true cost driver: the edge KEY space
    saturates at n_domains² while aggregated link mass keeps growing
    linearly)."""
    from pyspark.sql import functions as F

    from hive3_replication_spark.llm.web import _domain_graph, llm_dedup_url

    _, edges = _domain_graph(spark, d)
    return {
        "url_groups": llm_dedup_url(spark, d).count(),
        "domain_edge_mass": int(
            edges.agg(F.sum("w")).collect()[0][0]
        ),
    }


def _web_volume_counts(spark, sf_dir: str, probe_dir: str) -> dict:
    """Round-11 web counters at base and 10x (see ``_web_counts_one``).
    URL groups are ceil(docs/3) — corpus-linear up to the one partial
    tail group, so a 10x read is 9.99-10.0x, never a round 10.000."""
    out = {}
    for tag, d in (("base", sf_dir), ("x10", probe_dir)):
        for k, v in _web_counts_one(spark, d).items():
            out[f"{k}_{tag}"] = v
    return out


def _ann_candidate_counts(spark, sf_dir: str, probe_dir: str) -> dict:
    """LSH candidate-pair volume behind llm_ann_batch / llm_serving_e2e at
    base and 10x — the denominator the r5/r6 verdicts asked for: the time
    ratios (~5x at 10x data) read superlinear only until divided by the
    candidate volume, which grows ~linearly with the corpus (10 fixed
    queries x avg bucket occupancy; the cap is scaled 10x alongside, same
    as the timing overrides, so the guard never truncates the read)."""
    from hive3_replication_spark.catalog import load_table
    from hive3_replication_spark.llm.similarity import _batch_candidates

    out = {}
    for tag, d, cap in (
        ("ann_cand_base", sf_dir, 1000),
        ("ann_cand_x10", probe_dir, 10_000),
    ):
        emb = load_table(spark, d, "embeddings")
        dim = len(emb.select("embedding").first()[0])
        out[tag] = _batch_candidates(emb, dim, cap).count()
    return out


def _sink_restate_probe(spark, sf_dir: str, probe_dir: str) -> dict:
    """sink_partition_overwrite's scale claim is that the RESTATEMENT
    write is O(restated partitions), independent of table size (the
    landing write is trivially O(table) and not the claim). Stage the
    day-partitioned table untimed at base and 10x, then time only the
    last-day dynamic-overwrite restatement (min over N_PASSES)."""
    from hive3_replication_spark.catalog import load_table
    from hive3_replication_spark.util import scratch_dir

    from pyspark.sql import functions as F  # noqa: PLC0415

    out: dict = {}
    for tag, d in (("restate_base_sec", sf_dir), ("restate_x10_sec", probe_dir)):
        staged = load_table(spark, d, "events").select(
            F.col("ts").cast("timestamp").cast("date").alias("event_date"),
            "event_type",
            F.col("value").cast("decimal(18,4)").alias("vdec"),
        )
        dest = scratch_dir(prefix="h3r_restateprobe_") + "/events_by_day"
        staged.write.partitionBy("event_date").parquet(dest)
        last_day = staged.agg(F.max("event_date")).collect()[0][0]
        restated = staged.filter(
            (F.col("event_date") == F.lit(last_day))
            & (F.col("event_type") != "error")
        )
        prev = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "STATIC"
        )
        best = float("inf")
        try:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", "dynamic"
            )
            for _p in range(N_PASSES):
                t0 = time.perf_counter()
                restated.write.mode("overwrite").partitionBy(
                    "event_date"
                ).parquet(dest)
                best = min(best, time.perf_counter() - t0)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        out[tag] = round(best, 3)
    out["ratio"] = round(out["restate_x10_sec"] / out["restate_base_sec"], 2)
    return out


def _scale_probe(spark, queries, sf_dir: str) -> dict:
    """Time SCALE_PROBE_KEYS cold (memo caches cleared) at the bench SF and
    at 10x (generated on first use, integrity-preserving — see
    scripts/gen_scale_probe.py), and run the replication e2e at 10x.
    Emits per-key {base_sec, x10_sec, ratio} plus the 10x e2e rows and the
    ngram candidate-pair counts at both scales."""
    from hive3_replication_spark.llm.dedup import clear_caches
    from scripts.gen_scale_probe import generate

    # default probe dir lives under the repo root (portable — ADVICE r4)
    repo_root = os.path.dirname(os.path.abspath(__file__))
    probe_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", os.path.join(repo_root, ".scaleprobe", "sf1")
    )
    generate(sf_dir, probe_dir, factor=10)
    # The LSH bucket cap is a SIZE-DEPENDENT tuning parameter (the band
    # granularity is 16 buckets/band at fixture scale, so a fixed 1000-cap
    # saturates — every bucket drops — past ~16k corpus vectors; measured,
    # docs/SCALE.md). Probing 10x data with the cap scaled 10x measures
    # the blocking algorithm, not the saturated skew guard; production
    # raises bits-per-band instead, which the fixed-SQL oracles pin at
    # fixture granularity.
    def _ann_batch_x10(spark_, d_):
        from hive3_replication_spark.llm.similarity import llm_ann_batch

        return llm_ann_batch(spark_, d_, max_bucket=10_000)

    def _serving_x10(spark_, d_):
        from hive3_replication_spark.llm.similarity import llm_serving_e2e

        return llm_serving_e2e(spark_, d_, max_bucket=10_000)

    x10_overrides = {
        "llm_ann_batch": _ann_batch_x10,
        "llm_serving_e2e": _serving_x10,
    }

    def _cold_pass(name: str, tag: str, d: str) -> float:
        """One cold timed run of a probe key (memo caches cleared)."""
        fn = queries[name]
        if tag == "x10_sec" and name in x10_overrides:
            fn = x10_overrides[name]
        clear_caches()
        t0 = time.perf_counter()
        fn(spark, d).count()
        return time.perf_counter() - t0

    out: dict = {"factor": 10, "keys": {}}
    for name in SCALE_PROBE_KEYS:
        times = {}
        for tag, d in (("base_sec", sf_dir), ("x10_sec", probe_dir)):
            # min over N_PASSES cold runs — single-shot cold timings at
            # fixture scale are bimodal under local-mode GC/scheduling
            # jitter, the same reason the headline set reports per-query MIN
            times[tag] = round(
                min(_cold_pass(name, tag, d) for _p in range(N_PASSES)), 3
            )
        times["ratio"] = round(times["x10_sec"] / times["base_sec"], 2)
        # Outlier guard: a long single-session run occasionally hits a
        # window where EVERY pass of one key lands 5-10x slow (GC/JIT
        # state, not data — observed twice on llm_dedup_ngram with
        # bit-identical pair counts; docs/BENCH_NOTES.md round-7). A
        # breached ratio is a scale CLAIM, so it gets ONE extra
        # both-scales re-measure; if the ratio survives the retry it is
        # reported as-is with the flag, so a genuinely superlinear key is
        # still surfaced (and costs exactly one extra pass per run).
        if times["ratio"] > 10:
            for tag, d in (("base_sec", sf_dir), ("x10_sec", probe_dir)):
                times[tag] = min(
                    times[tag], round(_cold_pass(name, tag, d), 3)
                )
            times["ratio"] = round(
                times["x10_sec"] / times["base_sec"], 2
            )
            times["outlier_retried"] = True
        out["keys"][name] = times
    clear_caches()
    try:
        out["pairs"] = _ngram_pair_counts(spark, sf_dir, probe_dir)
    except Exception as exc:  # noqa: BLE001 — probe rows are additive
        print(f"ngram pair-count probe failed: {exc}", file=sys.stderr)
    try:
        out["pairs"] = {
            **out.get("pairs", {}),
            **_ann_candidate_counts(spark, sf_dir, probe_dir),
        }
    except Exception as exc:  # noqa: BLE001 — probe rows are additive
        print(f"ann candidate-count probe failed: {exc}", file=sys.stderr)
    try:
        out["pairs"] = {
            **out.get("pairs", {}),
            **_web_volume_counts(spark, sf_dir, probe_dir),
        }
    except Exception as exc:  # noqa: BLE001 — probe rows are additive
        print(f"web volume-count probe failed: {exc}", file=sys.stderr)
    try:
        out["sink_restate"] = _sink_restate_probe(spark, sf_dir, probe_dir)
    except Exception as exc:  # noqa: BLE001 — probe rows are additive
        print(f"sink restate probe failed: {exc}", file=sys.stderr)
    clear_caches()
    try:
        out["e2e_x10"] = _bench_replication_min(spark, probe_dir)
    except Exception as exc:  # noqa: BLE001 — probe rows are additive
        print(f"x10 replication e2e failed: {exc}", file=sys.stderr)
    return out


def shrink_compact_line(compact: dict, limit: int = 1900) -> str:
    """Shrink the stdout JSON line to the driver's ~1900-char capture
    window. Multi-step (ADVICE r5: a single-step shrink can't bound an
    unbounded scale_ratios/pairs section): drop progressively less
    essential fields; if the fully-shrunk line STILL exceeds the window
    (ADVICE r7: e.g. a very large e2e dict, which no step drops), fall
    back to the irreducible headline fields. Everything dropped is still
    in the detail file. Mutates ``compact``."""
    # every step is total over PARTIAL compact dicts (ADVICE r8: an
    # unconditional c["queries"] indexing raised KeyError mid-shrink for
    # callers whose dict omits a section) — guard each key access
    shrink_steps = (
        lambda c: c.update(queries=dict(list(c["queries"].items())[:5]))
        if "queries" in c
        else None,
        lambda c: c.pop("pairs", None),
        lambda c: c.pop("sink_restate", None),
        lambda c: c.pop("e2e_x10", None),
        lambda c: c.update(
            scale_ratios=dict(list(c["scale_ratios"].items())[:8])
        )
        if "scale_ratios" in c
        else None,
        lambda c: c.pop("scale_ratios", None),
        lambda c: c.update(queries={}) if "queries" in c else None,
        lambda c: c.pop("contention", None),
    )
    line = json.dumps(compact)
    for step in shrink_steps:
        if len(line) <= limit:
            break
        step(compact)
        line = json.dumps(compact)
    if len(line) > limit:
        headline = {
            k: compact[k]
            for k in ("metric", "value", "unit", "runs", "n_queries",
                      "detail_file", "sf")
            if k in compact
        }
        line = json.dumps(headline)
    return line


def _host_ticks() -> dict:
    """Cheap host-state snapshot (the scripts/diag_outlier.py probes the
    round-8 VERDICT asked to fold in): /proc/stat cpu ticks — STEAL is
    the sharpest external-contention signal on this virtualized host —
    plus 1-minute loadavg. Empty dict on non-Linux."""
    out: dict = {}
    try:
        with open("/proc/stat") as fh:
            first = fh.readline().split()
        # cpu user nice system idle iowait irq softirq steal ...
        # busy = user+nice+system+irq+softirq; the denominator must also
        # carry idle+iowait+steal or an I/O-heavy block under-counts
        # elapsed ticks and inflates every percentage ~1.4x (round-9
        # review). guest/guest_nice (fields 9-10) are already folded
        # into user by the kernel — adding them would double-count.
        if first and first[0] == "cpu" and len(first) > 8:
            busy = sum(int(v) for v in first[1:4]) + int(first[6]) + int(
                first[7]
            )
            out["busy"] = busy
            out["idle"] = int(first[4]) + int(first[5])  # idle + iowait
            out["steal"] = int(first[8])
    except OSError:  # pragma: no cover - non-Linux
        pass
    try:
        with open("/proc/loadavg") as fh:
            out["loadavg_1m"] = float(fh.read().split()[0])
    except OSError:  # pragma: no cover - non-Linux
        pass
    return out


def _jvm_cpu_ns(spark) -> tuple[int, int] | None:
    """Whole-JVM process CPU time (executors live in the driver JVM in
    local mode), read from /proc/<jvm-pid>/stat utime+stime — the
    management bean's getProcessCpuTime lives on a jdk.management
    INTERNAL class that Java 17 strong encapsulation hides from py4j
    reflection, so the portable JVM call is just the pid (ProcessHandle,
    public API) and the accounting comes from the kernel. The pid is
    RE-RESOLVED on every call (one cheap py4j round-trip per fingerprint,
    ADVICE r9): a module-global cache silently attributed another
    process's ticks after an in-process JVM restart or pid recycling.
    Returns (pid, cpu_ns) so the delta consumer can refuse to diff
    readings from two different JVMs; None when unavailable (Spark
    Connect, non-Linux)."""
    try:
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/stat") as fh:
            # field 2 (comm) may contain spaces — split after the ')'
            parts = fh.read().rsplit(")", 1)[1].split()
        ticks = int(parts[11]) + int(parts[12])  # utime + stime
        return pid, ticks * (1_000_000_000 // os.sysconf("SC_CLK_TCK"))
    except Exception:  # noqa: BLE001 — fingerprint is best-effort
        return None


def _fingerprint_begin(spark) -> dict:
    return {
        "t0": time.perf_counter(),
        "ticks": _host_ticks(),
        "jvm_ns": _jvm_cpu_ns(spark),
    }


def _fingerprint_end(spark, begin: dict) -> dict:
    """Per-block contention fingerprint: wall, JVM-CPU/wall ratio (an
    8-25x-inflated task CPU on identical work was the round-8 incident
    signature), host steal/busy tick shares over the block, and end-of-
    block loadavg. All deltas, so blocks are comparable across runs."""
    wall = time.perf_counter() - begin["t0"]
    out: dict = {"wall_s": round(wall, 3)}
    jvm0, jvm1 = begin.get("jvm_ns"), _jvm_cpu_ns(spark)
    # pid must match across the block: a JVM restart mid-block would
    # otherwise yield a nonsense (often negative) delta between two
    # unrelated processes' tick counters.
    if (
        jvm0 is not None
        and jvm1 is not None
        and jvm0[0] == jvm1[0]
        and wall > 0
    ):
        cpu_s = (jvm1[1] - jvm0[1]) / 1e9
        out["jvm_cpu_s"] = round(cpu_s, 3)
        out["cpu_wall_ratio"] = round(cpu_s / wall, 2)
    t0, t1 = begin.get("ticks", {}), _host_ticks()
    if "steal" in t0 and "steal" in t1:
        total = sum(t1[k] - t0[k] for k in ("busy", "idle", "steal"))
        if total > 0:
            out["steal_pct"] = round(100 * (t1["steal"] - t0["steal"]) / total, 3)
            out["busy_pct"] = round(100 * (t1["busy"] - t0["busy"]) / total, 1)
    if "loadavg_1m" in t1:
        out["loadavg_1m"] = t1["loadavg_1m"]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="h3r-bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()

    # Warm-up: run the headline set once at the smallest available SF so
    # JIT + whole-stage-codegen compilation (cached by generated source,
    # independent of data) happens outside the measured window — timings
    # then reflect steady-state per-row throughput, which is what the
    # 100 TB comparison is about. Falls back to the bench dir itself if no
    # smaller sibling fixture exists; warm-up failures are reported, not
    # swallowed (a silently skipped warm-up would skew the numbers).
    sibling = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    warm_dir = sibling if os.path.isdir(sibling) else sf_dir
    for name in HEADLINE:
        try:
            queries[name](spark, warm_dir).count()
        except Exception as exc:
            print(f"warmup failed for {name}: {exc}", file=sys.stderr)

    # Best-of-N_PASSES full passes: local-mode jitter (GC pauses, thread
    # contention with 32 executor threads) adds ±30% noise to sub-second
    # jobs; the per-query min over two complete passes is the steady-state
    # throughput number the 100 TB comparison needs. The dedup memo caches
    # are cleared at the start of each pass, so every pass pays the real
    # blocking/scoring cost; WITHIN a pass the cross-operator memoization
    # (ngram → clusters) applies, as it does in a production session.
    from hive3_replication_spark.llm.dedup import clear_caches

    timings: dict[str, float] = {}
    contention: dict[str, dict] = {}
    for _pass in range(N_PASSES):
        clear_caches()
        fp = _fingerprint_begin(spark)
        for name in HEADLINE:
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            n = df.count()
            elapsed = round(time.perf_counter() - t0, 3)
            assert n >= 0
            if elapsed < timings.get(name, float("inf")):
                timings[name] = elapsed
        contention[f"headline_pass_{_pass + 1}"] = _fingerprint_end(spark, fp)
    total = round(sum(timings.values()), 3)

    # Steady-state e2e: min over N_PASSES full pipeline runs (same policy
    # as the headline per-query min — a single run mixes first-compile
    # fixed costs into the number; see _bench_replication docstring).
    # Cleanup first so the measurement starts from a drained block manager,
    # then SETTLE before opening the fingerprint window: jvm_cpu_s is
    # process-wide, and with zero gap the headline block's trailing async
    # work (cache-block removal issued by the clearCache above, task
    # teardown, GC) lands inside the e2e window — measured +17% phantom
    # CPU on identical e2e work in a quiet-window A/B/C isolation
    # (scripts/diag_e2e_regression.py, round 12; the r11 committed +26%
    # e2e fingerprint was exactly this adjacency plus 0.5% steal).
    clear_caches()
    spark.catalog.clearCache()
    gc.collect()
    time.sleep(3)
    fp = _fingerprint_begin(spark)
    try:
        e2e = _bench_replication_min(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — e2e rows are additive
        print(f"replication e2e bench failed: {exc}", file=sys.stderr)
        e2e = {}
    contention["e2e"] = _fingerprint_end(spark, fp)

    fp = _fingerprint_begin(spark)
    try:
        scale_probe = _scale_probe(spark, queries, sf_dir)
    except Exception as exc:  # noqa: BLE001 — probe rows are additive
        print(f"scale probe failed: {exc}", file=sys.stderr)
        scale_probe = {}
    contention["scale_probe"] = _fingerprint_end(spark, fp)

    sf_num = float(sf) if sf.replace(".", "").isdigit() else sf
    detail_file = os.environ.get("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json")
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_file
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_suite_wall_time",
                "value": total,
                "unit": "sec",
                "runs": N_PASSES,
                "queries": timings,
                "e2e": e2e,
                "scale_probe": scale_probe,
                "contention": contention,
                "sf": sf_num,
            },
            fh,
            indent=1,
        )
        fh.write("\n")

    # Compact stdout line (< 2000 chars — the driver's capture window):
    # suite total, the 10 slowest keys, e2e, per-key scale ratios, pair
    # counts. Everything else lives in the detail file.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    compact = {
        "metric": "headline_suite_wall_time",
        "value": total,
        "unit": "sec",
        "runs": N_PASSES,
        "n_queries": len(timings),
        "queries": slowest,
        "e2e": e2e,
        "scale_ratios": {
            k: v.get("ratio") for k, v in scale_probe.get("keys", {}).items()
        },
        "pairs": scale_probe.get("pairs", {}),
        "sink_restate": scale_probe.get("sink_restate", {}),
        "e2e_x10": scale_probe.get("e2e_x10", {}),
        # worst-case contention fingerprint across the run's blocks (full
        # per-block rows in the detail file): a run with elevated steal /
        # loadavg / cpu-wall ratio is flagged contaminated, not regressed
        "contention": {
            "steal_pct_max": max(
                (b.get("steal_pct", 0.0) for b in contention.values()),
                default=0.0,
            ),
            "loadavg_max": max(
                (b.get("loadavg_1m", 0.0) for b in contention.values()),
                default=0.0,
            ),
            "cpu_wall_max": max(
                (b.get("cpu_wall_ratio", 0.0) for b in contention.values()),
                default=0.0,
            ),
        },
        "detail_file": detail_file,
        "sf": sf_num,
    }
    print(shrink_compact_line(compact))
    spark.stop()


if __name__ == "__main__":
    main()
