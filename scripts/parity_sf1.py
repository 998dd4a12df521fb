"""One-time sf1.0 empirical parity + timing sweep (VERDICT r10 ask #2).

Every 100x claim in docs/SCALE.md is plan-shape + counter extrapolation;
this script MEASURES one decade above the per-round gate: it expands
/root/testdata/sf0.1 by 10x with scripts/gen_scale_probe.py (referential
integrity + disjoint per-copy token vocabularies — ~6M-row lineitem,
~1.5M events, ~59k documents) and runs the TARGET KEY SET — the ask's
data-proportional SCALE_PROBE_KEYS plus the round-11 driver window —
against the DuckDB oracles on that data, on a PLAIN SparkSession (the
driver's exact environment), recording per-key ENGINE wall seconds,
ORACLE wall seconds, row count, and pass/fail into PARITY_SF1.json.

Resume-aware: keys already recorded as passing in an existing output
file are kept and skipped, so an interrupted sweep continues instead of
restarting. ORACLE_SKIP lists keys whose DuckDB replay itself does not
scale to sf1 (an oracle-implementation cost, not an engine property —
the first full-registry attempt spent 25+ min inside DuckDB on
ts_downsample_lttb_hier's two-level list replay at 1.5M events while
the engine side finished in seconds); those keys record engine wall +
rows with pass=null and the reason.

Usage: python scripts/parity_sf1.py [--out PARITY_SF1.json] [--all]
                                    [--next N] [--keys k1,k2,...]
(--all sweeps every registered key — the original full-registry mode;
--next N targets the first N not-yet-measured keys in registry order
(sorted by name) on top of everything already recorded in the output
file;
--keys FORCES a re-measure of the named keys — their prior records are
dropped so the fresh result re-dates them (VERDICT r12 ask #3: re-run
exactly the engine paths a late-session change touched) — while every
other record carries forward untouched.)
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _verify_lttb_hier_sampled(
    spark, con, probe_dir: str, final, rec: dict, assert_frames_match
) -> None:
    """Chunk-sampled sf1 oracle for ts_downsample_lttb_hier (VERDICT r11
    ask #5). The full two-level DuckDB replay is super-linear at 1.5M
    events (25+ min), so the check splits at the level-1/level-2 seam:

    - level 2 verified IN FULL: the engine's level-1 picks (exported,
      ~n/500×14 rows) are fed through the DuckDB series-level replay and
      the result compared against the engine's final output;
    - level 1 spot-checked on DETERMINISTIC chunks — a modular lattice
      (chunk % 89 = 3), the first two chunks, and each series' LAST
      (partial) chunk — replayed chunk-exactly in DuckDB from the raw
      events via the SAME CTE text the full oracle is built from.

    Both comparisons are exact value matches; the sampled level-1 is the
    only bounded-confidence part, and its sample always includes the
    boundary chunks where an off-by-one would live.

    ``final`` is the main loop's already-collected engine output (the
    round-12 review: re-running the pipeline here both doubled the
    expensive chunking stage and booked engine time as oracle time);
    ``rec['oracle_wall_s']`` covers ONLY the two DuckDB replays, with
    the keyed-picks engine export timed separately."""
    from hive3_replication_spark.operators.timeseries import (
        _lttb_chunk_map_keyed,
        _lttb_hier_chunked_pts,
        lttb_hier_l2_from_picks_sql,
        lttb_hier_sampled_l1_sql,
    )
    from hive3_replication_spark.util import shuffle_partitions

    n_parts = shuffle_partitions(spark)
    t_picks = time.perf_counter()
    keyed_picks = (
        _lttb_hier_chunked_pts(spark, probe_dir)
        .repartition(n_parts, "event_type", "chunk")
        .groupBy("event_type", "chunk")
        .applyInPandas(
            _lttb_chunk_map_keyed,
            "event_type string, chunk long, event_id long, x long, y long",
        )
        .toPandas()
    )
    rec["picks_export_wall_s"] = round(time.perf_counter() - t_picks, 3)

    # level 2, full: DuckDB series replay over the engine's picks
    t_orc = time.perf_counter()
    con.register(
        "hier_picks", keyed_picks[["event_type", "x", "y", "event_id"]]
    )
    l2 = con.sql(lttb_hier_l2_from_picks_sql("hier_picks")).df()
    assert_frames_match(final, l2, "ts_downsample_lttb_hier@l2-full")

    # level 1, sampled: lattice + first two + per-series last chunk
    last = keyed_picks.groupby("event_type")["chunk"].max()
    pred = " OR ".join(
        ["chunk % 89 = 3", "chunk <= 1"]
        + [
            # SQL-escape the engine-provided type (round-12 review)
            f"(event_type = '{et.replace(chr(39), chr(39) * 2)}'"
            f" AND chunk = {int(c)})"
            for et, c in sorted(last.items())
        ]
    )
    mask = (keyed_picks.chunk % 89 == 3) | (keyed_picks.chunk <= 1)
    for et, c in last.items():
        mask |= (keyed_picks.event_type == et) & (keyed_picks.chunk == c)
    eng_sample = keyed_picks[mask][
        ["event_type", "chunk", "event_id", "x", "y"]
    ]
    orc_sample = con.sql(lttb_hier_sampled_l1_sql(pred)).df()
    rec["oracle_wall_s"] = round(time.perf_counter() - t_orc, 3)
    assert_frames_match(
        eng_sample, orc_sample, "ts_downsample_lttb_hier@l1-sampled"
    )
    n_chunks = int(
        eng_sample[["event_type", "chunk"]].drop_duplicates().shape[0]
    )
    rec["oracle_mode"] = (
        f"sampled: l1 spot-check {n_chunks} chunks "
        "(lattice %89=3 + first 2 + per-series last), "
        "l2 full replay over exported engine picks"
    )


#: The data-proportional keys swept at sf1 on top of the first 50
#: registry keys (the default mode of ``resume_and_targets``).
SCALE_PROBE_KEYS = (
    "llm_dedup_ngram", "llm_dedup_minhash", "llm_cluster_kmeans",
    "sql_recursive_hierarchy", "llm_ann_batch", "llm_dedup_semantic",
    "llm_serving_e2e", "llm_ann_index_probe", "llm_dedup_incremental",
    "ts_downsample_lttb", "ts_downsample_lttb_hier", "ts_acf",
    "agg_weighted_median", "agg_quantile_sketch", "ts_stl_decompose",
    "join_interval_overlap", "llm_rank_fusion", "ts_holt_winters",
    "llm_line_boilerplate", "llm_eval_ndcg", "llm_dedup_url",
    "llm_domain_authority", "ts_forecast_backtest", "ts_anomaly_mad",
    "llm_kn_bigram_lm", "ts_cross_correlation", "llm_domain_mix_reweight",
    "scan_zorder", "llm_unigram_tokenizer", "llm_unigram_apply",
)


def resume_and_targets(
    prior: dict[str, dict],
    query_keys: list[str],
    sampled_verify: dict,
    scale_probe_keys,
    argv: list[str],
) -> tuple[dict[str, dict], list[str]]:
    """Pure resume/targeting policy (unit-tested in
    tests/test_repl_pipeline.py) — given the prior output file's ``keys``
    block, the registered keys in registry order, and the CLI mode, return
    (records to carry forward, keys to target this run).

    - passes and oracle-skips carry forward (re-running a skip's engine
      pass every resume was pure waste — ADVICE r11); a skip whose key
      now has a sampled verifier re-runs so the record can flip to a
      (sampled) pass;
    - NO prior record is ever silently erased (round-12 review: a
      resume whose mode didn't re-target the failed key dropped the
      record and let the summary read complete/0-fail): every
      still-registered failure — and every skip that gained a sampled
      verifier — is forced into the target set so it re-runs before
      ``complete`` can flip to true, in EVERY mode; a key that left the
      registry cannot re-run and keeps its record as-is (pass, fail, or
      skip).
    """
    results: dict[str, dict] = {}
    rerun: list[str] = []  # keys forced into this run's target set
    for k, v in prior.items():
        if k not in query_keys:
            # left the registry: cannot re-run — keep the record AS-IS
            # (pass, fail, or skip; hypothesis edge, round 12)
            results[k] = v
        elif v.get("pass") is False:
            rerun.append(k)
        elif v.get("pass") is None and k in sampled_verify:
            rerun.append(k)  # skip that can now flip to a (sampled) pass
        else:
            results[k] = v
    if "--all" in argv:
        targets = list(query_keys)
    elif "--keys" in argv:
        forced = [
            k for k in argv[argv.index("--keys") + 1].split(",") if k
        ]
        # drop the forced keys' prior records so the fresh measurement
        # re-dates them; everything else carries forward untouched. A
        # forced key that has LEFT the registry cannot be re-run, so its
        # prior record must survive — popping it would silently erase a
        # record, violating the no-silent-erase invariant above
        # (ADVICE r13).
        for k in forced:
            if k in query_keys:
                results.pop(k, None)
        targets = list(results) + [k for k in forced if k in query_keys]
    elif "--next" in argv:
        n = int(argv[argv.index("--next") + 1])
        fresh = [k for k in query_keys if k not in results][:n]
        targets = list(results) + fresh + [
            k for k in sampled_verify
            if k not in results and k not in fresh
        ]
    else:
        targets = query_keys[:50] + [
            k for k in scale_probe_keys if k not in query_keys[:50]
        ]
    targets += [k for k in rerun if k not in targets]
    return results, targets


def main() -> None:
    out_path = "PARITY_SF1.json"
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]

    import duckdb

    from scripts.gen_scale_probe import generate

    repo_root = Path(__file__).resolve().parent.parent
    probe_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR", str(repo_root / ".scaleprobe" / "sf1")
    )
    generate("/root/testdata/sf0.1", probe_dir, factor=10)

    # plain driver-equivalent session: engine confs must be set at
    # runtime by catalog.load_table, never assumed
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("parity-sf1")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.driver.memory", os.environ.get("H3R_DRIVER_MEM", "48g"))
        .getOrCreate()
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{probe_dir}/{t}.parquet'"
            if os.path.isfile(f"{probe_dir}/{t}.parquet")
            else (
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{probe_dir}/{t}.parquet/*.parquet'"
            )
        )

    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.registry import build_oracles, build_queries
    from tests.conftest import assert_frames_match

    queries, oracles = build_queries(), build_oracles()
    results: dict[str, dict] = {}
    # oracle replays that are super-linear in DuckDB at sf1 get a
    # SAMPLED verifier instead of a skip (VERDICT r11 ask #5): the
    # expensive level is spot-checked on deterministic chunks, the
    # cheap level verified in full over exported engine intermediates.
    # oracle_skip is intentionally kept (currently empty) as the escape
    # hatch for a future key with no tractable sampled decomposition.
    oracle_skip: dict[str, str] = {}
    sampled_verify = {
        "ts_downsample_lttb_hier": _verify_lttb_hier_sampled,
    }

    prior: dict[str, dict] = {}
    if os.path.exists(out_path):
        prior = json.loads(Path(out_path).read_text()).get("keys", {})
    resumed, targets = resume_and_targets(
        prior, list(queries), sampled_verify, SCALE_PROBE_KEYS, sys.argv
    )
    results.update(resumed)

    t_begin = time.perf_counter()
    todo = [k for k in targets if k not in results]
    for i, key in enumerate(todo, 1):
        fn = queries[key]
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            spark_pdf = fn(spark, probe_dir).toPandas()
            rec["wall_s"] = round(time.perf_counter() - t0, 3)
            rec["rows"] = int(len(spark_pdf))
            if key in oracle_skip:
                rec["pass"] = None
                rec["oracle_skipped"] = oracle_skip[key]
            elif key in sampled_verify:
                sampled_verify[key](
                    spark, con, probe_dir, spark_pdf, rec,
                    assert_frames_match,
                )
                rec["pass"] = True
            else:
                t1 = time.perf_counter()
                oracle_pdf = con.sql(oracles[key]).df()
                rec["oracle_wall_s"] = round(time.perf_counter() - t1, 3)
                assert_frames_match(spark_pdf, oracle_pdf, key)
                rec["pass"] = True
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec.setdefault("wall_s", round(time.perf_counter() - t0, 3))
            rec["pass"] = False
            rec["err"] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc()
        results[key] = rec
        status = (
            "ok"
            if rec["pass"]
            else ("oracle-skip" if rec["pass"] is None else "FAIL")
        )
        print(
            f"[{i}/{len(todo)}] {key}: {status} "
            f"{rec['wall_s']}s rows={rec.get('rows')}",
            flush=True,
        )
        # incremental dump: a killed sweep still leaves evidence
        Path(out_path).write_text(
            json.dumps(
                {
                    "sf": 1.0,
                    "complete": False,
                    "n_done": len(results),
                    "n_targets": len(targets),
                    "keys": results,
                },
                indent=1,
            )
        )
    clear_caches()
    n_pass = sum(1 for r in results.values() if r["pass"])
    n_skip = sum(1 for r in results.values() if r["pass"] is None)
    summary = {
        "sf": 1.0,
        "base": "/root/testdata/sf0.1 x10 (gen_scale_probe)",
        # complete means the sweep finished AND nothing failed — a run
        # that ends with recorded failures must not read as done
        # (ADVICE r11)
        "complete": len(results) == n_pass + n_skip,
        "n_keys": len(results),
        "n_pass": n_pass,
        "n_oracle_skip": n_skip,
        "total_wall_s": round(time.perf_counter() - t_begin, 1),
        "keys": results,
    }
    Path(out_path).write_text(json.dumps(summary, indent=1))
    print(
        f"\n{n_pass} pass / {n_skip} oracle-skip / "
        f"{len(results) - n_pass - n_skip} fail of {len(results)} — "
        f"wrote {out_path}"
    )


if __name__ == "__main__":
    main()
