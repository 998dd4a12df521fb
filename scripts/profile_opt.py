"""Optimization-round isolation profiler (round 15, guide §1).

For each requested headline key, measures separately:
  - plan_s:  time to BUILD the DataFrame (python-side plan construction)
  - prep_s:  time to force analysis+optimization+physical planning
             (queryExecution().executedPlan() — catalyst cost, no jobs)
  - run_s:   min over N passes of the timed action (count(), bench
             methodology) with dedup memo caches cleared per pass
  - noop_s:  min over N passes of the noop-sink action (guide §1.4 —
             computes every column, so it exposes work count() prunes)

Writes a JSON table to --out and prints it sorted by run_s.

Usage: python scripts/profile_opt.py [--keys k1,k2] [--sf DIR] [--passes 2]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keys", default="")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--out", default="/tmp/profile_opt.json")
    ap.add_argument("--noop", action="store_true", help="also time noop sink")
    ap.add_argument(
        "--plans-dir", default="", help="dump explain('formatted') per key here"
    )
    args = ap.parse_args()

    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.registry import build_queries
    from hive3_replication_spark.session import get_spark

    spark = get_spark(app_name="h3r-profile-opt")
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()
    keys = [k for k in args.keys.split(",") if k] or list(queries)

    # warm-up at the smallest sibling fixture (bench.py convention) so JIT/
    # codegen compile outside the measured window
    import os

    sibling = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    warm_dir = sibling if os.path.isdir(sibling) else args.sf
    for name in keys:
        try:
            queries[name](spark, warm_dir).count()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup failed for {name}: {exc}", file=sys.stderr)

    rows = {}
    for name in keys:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        rec: dict = {}
        # plan build
        t0 = time.perf_counter()
        df = queries[name](spark, args.sf)
        rec["plan_s"] = round(time.perf_counter() - t0, 3)
        # catalyst: analysis + optimization + physical planning, no jobs
        t0 = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        rec["prep_s"] = round(time.perf_counter() - t0, 3)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            jvm = spark._jvm
            txt = df._jdf.queryExecution().explainString(
                jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(args.plans_dir, f"{name}.txt"), "w") as fh:
                fh.write(txt)
        # timed action, bench methodology (fresh plan per pass, cold memos)
        best = float("inf")
        for _p in range(args.passes):
            clear_caches()
            t0 = time.perf_counter()
            queries[name](spark, args.sf).count()
            best = min(best, time.perf_counter() - t0)
        rec["run_s"] = round(best, 3)
        if args.noop:
            best = float("inf")
            for _p in range(args.passes):
                clear_caches()
                t0 = time.perf_counter()
                (
                    queries[name](spark, args.sf)
                    .write.format("noop")
                    .mode("overwrite")
                    .save()
                )
                best = min(best, time.perf_counter() - t0)
            rec["noop_s"] = round(best, 3)
        rows[name] = rec
        spark.sparkContext.setJobDescription(None)

    with open(args.out, "w") as fh:
        json.dump(rows, fh, indent=1)
    for name, rec in sorted(rows.items(), key=lambda kv: -kv[1]["run_s"]):
        print(
            f"{rec['run_s']:8.3f}  plan={rec['plan_s']:6.3f} "
            f"prep={rec['prep_s']:6.3f} "
            + (f"noop={rec.get('noop_s', float('nan')):6.3f}  " if args.noop else "")
            + name
        )
    spark.stop()


if __name__ == "__main__":
    main()
