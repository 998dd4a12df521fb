"""Benchmark command: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload repl_cdc --seed 1 --seconds 20 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
traced run prints its tracing overhead on stderr: its end-to-end figures
minus those the untraced run of the same workload and seed left in
``.perfbench_work/results``.
Exits 1 on any correctness mismatch or failed trace self-check. See
``perfbench/NOTES.md`` for the workloads and every metric.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up is timed from here to the first op

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
#: Spark runs as local[k]; k <= nproc. Two threads measured no slower than
#: four on every probed op of a 4-core host, and leave room for the OS.
LOCAL_THREADS = 2
DRIVER_MEMORY = "2g"

#: The gated end-to-end metrics. Wall latencies per op and per round are
#: reported in the detail record only: on a shared host they spread past
#: any bound the benchmark format allows (see NOTES.md).
E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "round_cpu_s": "s",
}


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("ratio", "coverage_min")):
        return "ratio"
    return "count"


REPL_INCR = (
    "repl.snapshot.repl_status_s", "repl.incremental.incremental_dump_s",
    "repl.incremental.apply_events_s", "repl.registry.lock_s",
    "repl.snapshot.drop_removed_tables_s", "repl.snapshot.tables_dropped",
    "repl.pipeline.self_s",
    "repl.incremental.apply_attempts", "repl.delta_events",
    "source.event_files", "repl.snapshot.sync_static_tables_s",
    "repl.snapshot.tables_synced",
)
REPL_BOOT = (
    "repl.snapshot.bootstrap_dump_s", "repl.snapshot.bootstrap_load_s",
    "repl.snapshot.boot_bytes", "repl.boot_p50_s",
)
COMMON = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
    "registry.build_s", "registry.build_jobs", "catalog.load_table_s",
    "catalog.load_table_calls", "catalyst.analysis_ms",
    "catalyst.optimization_ms", "catalyst.planning_ms", "sink.noop_exec_s",
    "jvm.gc_s", "jvm.jit_cpu_s",
)
LLM_ROUND = (
    "llm.dedup.ngram_pairs_scored", "llm.dedup.ngram_pairs_kept",
    "llm.dedup.ngram_keep_ratio",
)
TRACE = ("trace.coverage_min",)
#: The field of a traced op record each per-layer metric averages.
SOURCE = {
    "repl.pipeline.self_s": "repl.pipeline.run_replication#self",
    "repl.incremental.apply_attempts": "repl.incremental.apply_events#calls",
    "catalog.load_table_calls": "catalog.load_table#calls",
}


def per_layer_names() -> list[str]:
    from perfbench.workloads import Analytics

    per_key = [
        f"{k}.{m}" for k in Analytics.keys
        for m in ("build_s", "exec_s", "task_cpu_s")
    ]
    return [*REPL_INCR, *REPL_BOOT, *COMMON, *LLM_ROUND, *TRACE, *per_key]


def _field(name: str) -> str:
    if name in SOURCE:
        return SOURCE[name]
    return name[: -len("_s")] if name.endswith("_s") and not name.startswith(
        ("spark.", "jvm.")
    ) else name


def _mean(ops, field: str) -> float:
    return sum(op.layers.get(field, 0.0) for op in ops) / len(ops) if ops else 0.0


def jvm_live_mb(spark) -> float:
    """JVM heap still in use after a full collection: what the engine holds
    on to (memo caches, persisted relations, plan caches). Reported in the
    detail record only: on ``analytics`` it read 223-531 MB across runs of
    the same code, depending on whether asynchronous unpersists of earlier
    rounds' memos had finished."""
    jvm = spark._jvm.java.lang
    jvm.System.gc()
    heap = jvm.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def run_window(wl, spark, seconds: float, tracer) -> dict:
    """Whole rounds until ``seconds`` of op time and ``wl.min_ops`` ops."""
    from bench import _fingerprint_begin, _fingerprint_end

    wl.start_window()
    rounds = []
    fp = _fingerprint_begin(spark)
    first_op_at = time.perf_counter()
    while (
        sum(r.wall for r in rounds) < seconds
        or sum(len(r.ops) for r in rounds) < wl.min_ops
    ):
        rounds.append(wl.round(tracer))
    fingerprint = _fingerprint_end(spark, fp)
    wl.end_window(rounds)
    return {"rounds": rounds, "fingerprint": fingerprint, "first_op_at": first_op_at}


#: The host probe's CPU time (``workloads.host_probe_s``) that the gated
#: CPU metrics are scaled to: about its median on the 4-vCPU VM on which
#: the bounds were measured.
PROBE_REF_S = 0.027


def e2e_metrics(window: dict) -> dict[str, float]:
    """Work CPU per op (median per kind, geometric mean across kinds) and
    per round (the median round's total), scaled to host speed: times
    ``PROBE_REF_S`` over the window's median probe time. The same code
    then reads the same on a host that is slower or faster for a while."""
    from perfbench import stats

    ops = [op for r in window["rounds"] for op in r.ops]
    scale = PROBE_REF_S / stats.median([op.probe for op in ops])
    return {
        "op_cpu_s": scale * stats.kind_median([(op.kind, op.cpu) for op in ops]),
        "round_cpu_s": scale * stats.median(
            [sum(op.cpu for op in r.ops) for r in window["rounds"]]
        ),
    }


def reported_metrics(window: dict, tail_pct: int) -> dict[str, float]:
    """Figures for the detail record that no bound gates: wall latency
    per op and per round, the unscaled work CPU and its tail, the probe
    time, and the JIT CPU the work CPU leaves out."""
    from perfbench import stats

    ops = [op for r in window["rounds"] for op in r.ops]
    p50, tail = stats.mix_summary([(op.kind, op.wall) for op in ops], tail_pct)
    cpu, cpu_tail = stats.mix_summary([(op.kind, op.cpu) for op in ops], tail_pct)
    return {
        "op_wall_p50_s": p50,
        "op_wall_tail_s": tail,
        "round_wall_s": stats.median([r.wall for r in window["rounds"]]),
        "op_cpu_raw_s": cpu,
        "op_cpu_tail_raw_s": cpu_tail,
        "round_cpu_raw_s": stats.median(
            [sum(op.cpu for op in r.ops) for r in window["rounds"]]
        ),
        "probe_s": stats.median([op.probe for op in ops]),
        "op_jit_cpu_s": stats.median([op.jit for op in ops]),
    }


def layer_metrics(wl, window: dict) -> dict[str, float]:
    from perfbench import stats

    ops = [op for r in window["rounds"] for op in r.ops]
    out: dict[str, float] = {}
    for name in per_layer_names():
        out[name] = 0.0
    for name in (*REPL_INCR, *COMMON):
        out[name] = _mean(ops, _field(name))
    out["jvm.jit_cpu_s"] = sum(op.jit for op in ops) / len(ops)
    boot = getattr(wl, "boot", [])
    for name in REPL_BOOT[:-1]:
        out[name] = _mean(boot, _field(name))
    if boot:
        out["repl.boot_p50_s"] = stats.median([op.wall for op in boot])
    pairs = getattr(wl, "pair_counts", [])
    if pairs:
        scored = sum(p[0] for p in pairs) / len(pairs)
        kept = sum(p[1] for p in pairs) / len(pairs)
        out["llm.dedup.ngram_pairs_scored"] = scored
        out["llm.dedup.ngram_pairs_kept"] = kept
        out["llm.dedup.ngram_keep_ratio"] = kept / scored if scored else 0.0
    for key in getattr(wl, "keys", ()):
        mine = [op for op in ops if op.key == key]
        out[f"{key}.build_s"] = _mean(mine, "registry.build")
        out[f"{key}.exec_s"] = _mean(mine, "sink.noop_exec")
        out[f"{key}.task_cpu_s"] = _mean(mine, "spark.task_cpu_s")
    out["trace.coverage_min"] = min(
        op.layers["#covered"] / op.wall for op in [*ops, *boot] if op.layers
    )
    return out


#: Span or counter names that must fire in every op of a kind; a zero
#: means a refactor moved the code away from where the tracer looks.
EXPECTED = {
    "bootstrap": ("repl.pipeline.run_replication", "repl.snapshot.repl_status",
                  "repl.snapshot.bootstrap_dump", "repl.snapshot.bootstrap_load",
                  "repl.registry.lock", "spark.jobs"),
    "incremental": ("repl.pipeline.run_replication", "repl.snapshot.repl_status",
                    "repl.incremental.incremental_dump",
                    "repl.incremental.apply_events", "repl.registry.lock",
                    "repl.snapshot.sync_static_tables",
                    "repl.snapshot.drop_removed_tables", "catalog.load_table",
                    "spark.jobs"),
    "analytics": ("registry.build", "catalyst.plan", "sink.noop_exec",
                  "spark.jobs", "spark.tasks"),
    # on top of the incremental ones: the change the call's kind names
    "incremental+sync": ("repl.snapshot.tables_synced",),
    "incremental+drop": ("repl.snapshot.tables_dropped",),
}


def expected_layers(kind: str) -> tuple[str, ...]:
    """What must fire in an op of ``kind``: a registry key's layers, or a
    replication mode's plus those of the change a ``+`` suffix names."""
    base = kind.split("+")[0]
    if base not in EXPECTED:
        return EXPECTED["analytics"]
    return EXPECTED[base] + (EXPECTED[kind] if kind != base else ())


MIN_COVERAGE = 0.90


def self_check(wl, window: dict) -> list[str]:
    problems = []
    ops = [op for r in window["rounds"] for op in r.ops]
    for op in [*getattr(wl, "boot", []), *ops]:
        for name in expected_layers(op.kind):
            if not op.layers.get(name, 0.0) > 0:
                problems.append(f"{op.key}: {name} never fired")
        cov = op.layers.get("#covered", 0.0) / op.wall
        if cov < MIN_COVERAGE:
            problems.append(f"{op.key}: named spans cover {cov:.1%} of the op")
    if wl.name == "analytics":
        for scored, kept in wl.pair_counts:
            if not (scored > 0 and kept > 0):
                problems.append(f"ngram pair counts empty: {scored}, {kept}")
    return problems


def start_spark(work: Path):
    from hive3_replication_spark.session import get_spark

    tmp = work / "tmp"
    k = min(LOCAL_THREADS, len(os.sched_getaffinity(0)))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{k}]",
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": str(tmp),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work / 'derby'}"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, k


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM the session launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — already closed by stop()
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "hive3_replication_spark" / "__init__.py").is_file():
        print(f"no program to measure under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    for var in ("SPARK_SHUFFLE_PARTITIONS", "SPARK_DRIVER_MEMORY", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    # the script's own directory would shadow stdlib modules (``trace``)
    sys.path[0] = str(ROOT)

    from perfbench import stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, instrument

    wl = WORKLOADS[args.workload]()
    tail_pct = stats.tail_pct_for(wl.min_ops)
    tracer = Tracer() if args.trace else None
    spark, k = start_spark(work)
    try:
        wl.setup(spark, str(work), args.seed, tracer)
        if tracer is not None:
            instrument(tracer)
        try:
            window = run_window(wl, spark, args.seconds, tracer)
        finally:
            if tracer is not None:
                tracer.uninstall()
        e2e = {
            "setup_s": window["first_op_at"] - T_START,
            **e2e_metrics(window),
        }
        reported = reported_metrics(window, tail_pct)
        live_mb = jvm_live_mb(spark)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    ops = [op for r in window["rounds"] for op in r.ops]
    failed = [op for op in ops if not op.ok]
    problems = self_check(wl, window) if tracer is not None else []
    detail = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "local_threads": k, "tail_pct": tail_pct, "ops": len(ops),
        "e2e": e2e,
        "reported": reported,
        "jvm_live_mb": live_mb,
        "warm_round_s": [round(r.wall, 3) for r in getattr(wl, "warm", [])],
        "boot_s": [round(op.wall, 3) for op in getattr(wl, "boot", [])],
        "rounds_wall_s": [round(r.wall, 3) for r in window["rounds"]],
        "fingerprint": window["fingerprint"],
        "op_samples": [
            [op.key, round(op.wall, 4), round(op.cpu, 3), round(op.jit, 3),
             round(op.probe, 5)]
            for op in ops
        ],
        "failures": [f"{op.key}: {op.why}" for op in failed][:20],
        "trace_problems": problems[:20],
    }
    results = ROOT / ".perfbench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    result_file = results / f"{wl.name}-s{args.seed}-t{args.trace}.json"
    result_file.write_text(json.dumps(detail, indent=1, default=str))
    print("perfbench detail: " + json.dumps(detail, default=str), file=sys.stderr)
    if tracer is not None:
        metrics = layer_metrics(wl, window)
        print_overhead(results / f"{wl.name}-s{args.seed}-t0.json",
                       {**e2e, **reported}, window["fingerprint"].get("steal_pct"))
        print(f"per-layer metrics at 0 because {wl.name} does not run their "
              f"layer: {sorted(n for n, v in metrics.items() if v == 0)}",
              file=sys.stderr)
    else:
        metrics = e2e
    for p in problems:
        print(f"trace self-check failed: {p}", file=sys.stderr)
    correct = not failed and not problems
    units = E2E if not args.trace else {n: _unit(n) for n in metrics}
    print(json.dumps({
        "correct": correct,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in metrics},
    }))
    return 0 if correct else 1


def print_overhead(untraced_file: Path, traced: dict, steal_pct: float) -> None:
    """Tracing overhead: this traced run's end-to-end figures minus those
    of the untraced run of the same workload and seed in this checkout.
    Both runs' steal is printed too: a difference in host steal moves the
    wall figures more than tracing does, and the work CPU less."""
    if not untraced_file.is_file():
        print(f"tracing overhead: no untraced run of this seed yet "
              f"({untraced_file.name}); traced e2e {traced}", file=sys.stderr)
        return
    detail = json.loads(untraced_file.read_text())
    plain = {**detail["e2e"], **detail["reported"]}
    print("tracing overhead (traced - untraced, same seed): " + ", ".join(
        f"{n} {traced[n] - plain[n]:+.4f} s ({traced[n] / plain[n] - 1:+.1%})"
        for n in ("op_cpu_raw_s", "round_cpu_raw_s", "op_wall_p50_s",
                  "round_wall_s")
    ) + f"; steal {steal_pct}% traced, "
        f"{detail['fingerprint'].get('steal_pct')}% untraced", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
