"""Quick A/B harness for the headline set (optimization round 15).

Times the bench.py HEADLINE keys (same warm-up at sf0.001, same
count() action, same per-pass cache clears) in ONE process with optional
extra session confs — for isolating the effect of a config or code change
in ~1/5 of a full bench run. NOT a replacement for bench.py numbers; the
committed before/after evidence comes from bench.py.

Usage:
  python scripts/ab_headline.py [--passes 2] [--conf k=v ...] \
      [--keys k1,k2] [--out /tmp/ab.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--conf", action="append", default=[])
    ap.add_argument("--keys", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args()

    from bench import HEADLINE
    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.registry import build_queries
    from hive3_replication_spark.session import get_spark

    extra = dict(c.split("=", 1) for c in args.conf)
    spark = get_spark(app_name="h3r-ab", extra_confs=extra)
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()
    keys = [k for k in args.keys.split(",") if k] or list(HEADLINE)

    sibling = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    warm_dir = sibling if os.path.isdir(sibling) else args.sf
    for name in keys:
        try:
            queries[name](spark, warm_dir).count()
        except Exception as exc:  # noqa: BLE001
            print(f"warmup failed for {name}: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    for _pass in range(args.passes):
        clear_caches()
        for name in keys:
            t0 = time.perf_counter()
            queries[name](spark, args.sf).count()
            elapsed = round(time.perf_counter() - t0, 3)
            if elapsed < timings.get(name, float("inf")):
                timings[name] = elapsed
    total = round(sum(timings.values()), 3)
    out = {"total": total, "n": len(timings), "confs": extra, "queries": timings}
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(out, fh, indent=1)
    print(json.dumps({"total": total, "n": len(timings), "confs": extra}))
    for name, sec in sorted(timings.items(), key=lambda kv: -kv[1])[:15]:
        print(f"{sec:8.3f}  {name}")
    spark.stop()


if __name__ == "__main__":
    main()
