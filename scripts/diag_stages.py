"""Per-stage/job breakdown for one or more registry keys (optimization
round 15, guide §1.1 — empirical profiling with the UI REST API since the
bench sessions run spark.ui.enabled=false).

Runs each key once (warm-up pass at sf0.001 first, dedup memos cleared
before the measured run), then dumps every job/stage the measured window
submitted: name, wall duration, task-time sum, shuffle read/write bytes,
input bytes. Sorted by stage wall.

Usage: python scripts/diag_stages.py --keys k1,k2 [--sf DIR] [--action noop]
"""

from __future__ import annotations

import argparse
import json
import sys
import time
import urllib.request

sys.path.insert(0, ".")


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}") as r:
        return json.loads(r.read())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--keys", required=True)
    ap.add_argument("--action", default="count", choices=["count", "noop"])
    ap.add_argument("--out", default="/tmp/diag_stages.json")
    args = ap.parse_args()

    from hive3_replication_spark.llm.dedup import clear_caches
    from hive3_replication_spark.registry import build_queries
    from hive3_replication_spark.session import get_spark

    spark = get_spark(
        app_name="h3r-diag-stages", extra_confs={"spark.ui.enabled": "true"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = build_queries()
    keys = [k for k in args.keys.split(",") if k]

    import os

    sibling = os.path.join(os.path.dirname(args.sf.rstrip("/")), "sf0.001")
    warm = sibling if os.path.isdir(sibling) else args.sf
    for k in keys:
        queries[k](spark, warm).count()

    base = f"http://localhost:{spark.sparkContext.uiWebUrl.rsplit(':', 1)[1]}"
    app_id = spark.sparkContext.applicationId
    api = f"{base}/api/v1/applications/{app_id}"

    report: dict = {}
    for k in keys:
        clear_caches()
        jobs_before = {j["jobId"] for j in _get(api, "/jobs")}
        spark.sparkContext.setJobDescription(f"diag:{k}")
        t0 = time.perf_counter()
        df = queries[k](spark, args.sf)
        t_build = time.perf_counter()
        if args.action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        time.sleep(0.3)
        jobs = [j for j in _get(api, "/jobs") if j["jobId"] not in jobs_before]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for s in _get(api, "/stages?status=complete"):
            if s["stageId"] not in stage_ids:
                continue
            stages.append(
                {
                    "stage": s["stageId"],
                    "name": s["name"].split("\n")[0][:90],
                    "tasks": s["numCompleteTasks"],
                    "wall_ms": round(
                        (
                            _ms(s.get("completionTime"))
                            - _ms(s.get("firstTaskLaunchedTime"))
                        ),
                        1,
                    )
                    if s.get("completionTime") and s.get("firstTaskLaunchedTime")
                    else None,
                    "task_time_ms": s.get("executorRunTime"),
                    "cpu_ms": round(s.get("executorCpuTime", 0) / 1e6, 1),
                    "in_mb": round(s.get("inputBytes", 0) / 1e6, 2),
                    "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 2),
                    "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 2),
                }
            )
        stages.sort(key=lambda r: -(r["wall_ms"] or 0))
        report[k] = {
            "wall_s": round(wall, 3),
            "build_s": round(t_build - t0, 3),
            "n_jobs": len(jobs),
            "n_stages": len(stage_ids),
            "stages": stages,
        }
        print(
            f"\n=== {k}: wall={wall:.3f}s build={t_build - t0:.3f}s "
            f"jobs={len(jobs)} stages={len(stage_ids)}"
        )
        for r in stages[:14]:
            print(
                f"  st{r['stage']:>4} wall={str(r['wall_ms']):>8}ms "
                f"run={r['task_time_ms']}ms cpu={r['cpu_ms']}ms "
                f"t={r['tasks']:>3} shR={r['sh_r_mb']} shW={r['sh_w_mb']} "
                f"in={r['in_mb']}  {r['name']}"
            )
    with open(args.out, "w") as fh:
        json.dump(report, fh, indent=1)
    spark.stop()


def _ms(iso: str) -> float:
    from datetime import datetime

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fGMT").timestamp() * 1e3


if __name__ == "__main__":
    main()
