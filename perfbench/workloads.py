"""The benchmark's workloads: a closed loop with one client thread.

The client calls only the program's public entry points:
``repl.pipeline.run_replication`` and ``registry.build_queries()[key]``,
whose DataFrame it materializes through the ``noop`` sink (a ``count()``
would let Catalyst prune the projected work). Each workload splits into
set-up (inputs, bootstraps, JIT warm-up), a timed window of whole rounds,
and checks that run between rounds but outside every timing.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np

from . import checks, gen
from .trace import Tracer, catalyst_phases_ms, gc_seconds, spark_group_metrics


_NO_SPAN = nullcontext()


@dataclass
class OpRecord:
    key: str
    wall: float
    cpu: float
    jit: float = 0.0
    probe: float = 0.0
    ok: bool = True
    why: str = ""
    layers: dict[str, float] = field(default_factory=dict)

    @property
    def kind(self) -> str:
        """Ops of one kind do the same work: one registry key, or one
        replication mode (``incremental:pbdb0`` is an ``incremental``)."""
        return self.key.split(":")[0]


@dataclass
class Round:
    wall: float
    ops: list[OpRecord]


#: Clock ticks per second of the /proc CPU counters.
_CLK_TCK = os.sysconf("SC_CLK_TCK")
#: Thread names (``/proc/.../comm``, cut at 15 bytes) of HotSpot's JIT
#: compilers.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_cpu_s(stat_path: str) -> float:
    """utime + stime of one ``/proc`` stat file, in seconds."""
    with open(stat_path) as fh:
        s = fh.read()
    f = s[s.rindex(")") + 2:].split()
    return (int(f[11]) + int(f[12])) / _CLK_TCK


class WorkCpu:
    """CPU the program spends on its work: the JVM process (executors run in
    it) minus its JIT compiler threads, plus the driver's Python process.

    JIT compilation is the JVM warming up, not work an op asks for. In a
    warmed run it still took 0.4-1.2 s of a ~1.6 s replication call and
    varied from call to call more than everything else together. The
    compiler threads are read from ``/proc/<pid>/task``. The JVM is started
    with ``-XX:-UseDynamicNumberOfCompilerThreads``, so none of them exits
    while its CPU is still needed for the subtraction."""

    def __init__(self, spark):
        pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.proc = f"/proc/{pid}/stat"
        self.jit_stats = []
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if fh.read().strip() in _JIT_THREADS:
                    self.jit_stats.append(f"/proc/{pid}/task/{tid}/stat")
        if not self.jit_stats:
            raise RuntimeError(f"no JIT compiler thread found in JVM {pid}")

    def jit_s(self) -> float:
        try:
            return sum(_proc_cpu_s(p) for p in self.jit_stats)
        except FileNotFoundError as e:
            raise RuntimeError(f"a JIT compiler thread exited: {e}") from e

    def read(self) -> tuple[float, float]:
        """(work CPU, JIT CPU) so far, in seconds."""
        jit = self.jit_s()
        return _proc_cpu_s(self.proc) - jit + time.process_time(), jit


def host_probe_s() -> float:
    """Thread CPU seconds a fixed reference kernel (a sort and a dict
    build) takes right now: how fast this host runs code at the moment.
    A shared host's speed per CPU second drifts by tens of percent over
    minutes; the gated CPU metrics are scaled by this probe (run.py)."""
    a = np.random.default_rng(0).integers(0, 2**31, 200_000)
    t0 = time.thread_time()
    np.sort(a, kind="stable")
    d = {}
    for i in range(30_000):
        d[i * 2654435761 % 1000003] = i
    return time.thread_time() - t0


class Client:
    """Times one op at a time, each after a host probe that is not timed;
    under a tracer it also tags the op's Spark jobs and collects its
    per-layer numbers after the op has ended."""

    def __init__(self, spark, tracer: Tracer | None, cpu: WorkCpu):
        self.spark = spark
        self.tracer = tracer
        self.cpu = cpu

    def run(self, key: str, body) -> tuple[OpRecord, object]:
        """``body(mark)`` does the op; ``mark(phase)`` switches the job
        group so jobs attribute to the op's phases."""
        tr = self.tracer
        groups: list[str] = []

        def mark(phase: str) -> None:
            if tr is not None:
                groups.append(f"pb{len(tr.ops)}{phase}")
                self.spark.sparkContext.setJobGroup(groups[-1], groups[-1])

        gc0 = gc_seconds(self.spark) if tr is not None else 0.0
        op = tr.begin_op(key) if tr is not None else None
        mark("op")
        probe = host_probe_s()
        c0, j0 = self.cpu.read()
        t0 = time.perf_counter()
        out = body(mark)
        wall = time.perf_counter() - t0
        c1, j1 = self.cpu.read()
        rec = OpRecord(key, wall, c1 - c0, jit=j1 - j0, probe=probe)
        if tr is not None:
            tr.end_op(op)
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            rec.layers.update(tr.layer_times(op))
            rec.layers.update(op.counts)
            for k, v in spark_group_metrics(self.spark, groups).items():
                rec.layers[f"spark.{k}"] = v
            build = [g for g in groups if g.endswith("build")]
            rec.layers["registry.build_jobs"] = (
                spark_group_metrics(self.spark, build)["jobs"] if build else 0.0
            )
            rec.layers["jvm.gc_s"] = gc_seconds(self.spark) - gc0
        return rec, out


# -- replication CDC ---------------------------------------------------------


class ReplCdc:
    """Three seeded source databases replicated tick after tick, one
    ``run_replication`` call per database per tick (the reference runs one
    ``hive3repl.sh <db>`` per DBLIST entry).

    A call's kind says what changed at its source since the last call:
    ``incremental`` (events only), ``incremental+sync`` (one static table
    was rewritten, so ``sync_static_tables`` copies it) or
    ``incremental+drop`` (a table was dropped, so ``drop_removed_tables``
    removes it). Each kind enters ``op_cpu_s`` through its own median."""

    name = "repl_cdc"
    dbs = 3
    warm_ticks = 2
    min_ticks = 9
    #: Events per delta. The reference's one published incremental run
    #: replicated 5 transactions on top of 1029 (BASELINE.md, README.md:
    #: 82-86): 0.49% of its history. The same share of the 10 000-event
    #: base is 49 events. Fixed, so every seed replicates the same volume.
    delta_events = round(gen.Scale().events * 5 / 1029)
    #: Window ticks at which one database drops a table: each database
    #: once, never in the tick in which its source also rewrites a table.
    drop_window_ticks = (0, 4, 8)
    rewritable = tuple(t for t in gen.STATIC_TABLES if t != gen.DROPPED_TABLE)

    @property
    def min_ops(self) -> int:
        return self.min_ticks * self.dbs

    def setup(self, spark, work: str, seed: int, tracer: Tracer | None) -> None:
        from hive3_replication_spark.repl.model import ReplConfig

        self.spark, self.seed = spark, seed
        self.cpu = WorkCpu(spark)
        root = f"{work}/repl"
        self.sources = [
            gen.ReplSource(f"{root}/src{i}", seed, i, gen.Scale())
            for i in range(self.dbs)
        ]
        self.cfgs = [
            ReplConfig(
                db_name=f"pbdb{i}",
                source_root=f"{root}/src{i}",
                target_root=f"{root}/tgt{i}",
                repl_root=f"{root}/stage",
            )
            for i in range(self.dbs)
        ]
        self.run_dir, self.wm_dir = f"{root}/runs", f"{root}/watermarks"
        self.tick_no = 0
        self.window_tick: int | None = None
        self.dropped: set[int] = set()
        if tracer is not None:
            instrument(tracer)
        try:
            self.boot = self._calls(tracer, ["bootstrap"] * self.dbs)
        finally:
            if tracer is not None:
                tracer.uninstall()
        bad = [op for op in self.boot if not op.ok]
        if bad:
            raise RuntimeError(f"bootstrap failed: {bad[0].why}")
        self.warm = []
        for _ in range(self.warm_ticks):
            self.warm.append(self.round(None))
            if not all(op.ok for op in self.warm[-1].ops):
                raise RuntimeError("a warm-up tick failed its checks")

    def _calls(self, tracer: Tracer | None, kinds: list[str]) -> list[OpRecord]:
        from hive3_replication_spark.repl import pipeline

        client = Client(self.spark, tracer, self.cpu)
        recs = []
        for i, cfg in enumerate(self.cfgs):
            src, kind = self.sources[i], kinds[i]
            mode = kind.split("+")[0]
            files = src.n_files
            rec, report = client.run(
                f"{kind}:{cfg.db_name}",
                lambda mark: pipeline.run_replication(
                    self.spark, cfg, self.run_dir, self.wm_dir
                ),
            )
            if tracer is not None:
                rec.layers["source.event_files"] = files
                rec.layers["repl.delta_events"] = (
                    self.delta_events if mode == "incremental" else 0
                )
            want = (mode, "success", src.max_event_id)
            got = (report["mode"], report["status"], report["post_load_id"])
            if got != want:
                rec.ok, rec.why = False, f"report {got} != expected {want}"
            recs.append(rec)
        return recs

    def round(self, tracer: Tracer | None) -> Round:
        """Append a seeded delta to every source, rewrite one static table
        at one source (the sources take turns), make the scheduled drop,
        then replicate every database once."""
        t = self.tick_no
        self.tick_no += 1
        kinds = ["incremental"] * self.dbs
        for src in self.sources:
            src.append_events(self.delta_events)
        rw = t % self.dbs
        self.sources[rw].rewrite_static(
            self.rewritable[(t // self.dbs) % len(self.rewritable)]
        )
        kinds[rw] = "incremental+sync"
        if self.window_tick in self.drop_window_ticks:
            db = (t + 1) % self.dbs
            self.sources[db].drop(gen.DROPPED_TABLE)
            self.dropped.add(db)
            kinds[db] = "incremental+drop"
        if self.window_tick is not None:
            self.window_tick += 1
        ops = self._calls(tracer, kinds)
        return Round(sum(op.wall for op in ops), ops)

    def start_window(self) -> None:
        self.window_tick = 0

    def end_window(self, rounds: list[Round]) -> None:
        """Final-state checks; a mismatch fails that database's last op."""
        last = rounds[-1].ops
        for i, src in enumerate(self.sources):
            dropped = {gen.DROPPED_TABLE} if i in self.dropped else set()
            problems = checks.repl_mismatches(
                src.root, self.cfgs[i].target_root, src.max_event_id, dropped
            )
            if problems:
                last[i].ok = False
                last[i].why = "; ".join(problems)


# -- analytics rounds: LLM corpus + relational reports ----------------------


LLM_KEYS = (
    "llm_dedup_exact",
    "llm_dedup_minhash",
    "llm_dedup_ngram",
    "llm_dedup_clusters",
    "llm_dedup_semantic",
    "llm_similarity_topk",
    "llm_serving_e2e",
    "llm_text_tokens",
    "llm_text_fingerprint",
)
#: Relational reports, one per operator family the headline keys use:
#: a TPC-H Q3 join + top-k (``operators.sql_queries``), a broadcast join
#: (``operators.joins``), a grouped aggregate (``operators.aggregates``),
#: a top-k window (``operators.windows``) and a partition-pruned scan
#: (``sources.readers``).
SQL_KEYS = (
    "sql_shipping_priority",
    "join_broadcast",
    "agg_groupby",
    "win_topk_per_group",
    "scan_partitioned",
)


class Analytics:
    """Each round runs the dedup family, similarity and serving over a
    fresh seeded corpus (memo caches miss across rounds and hit within
    one), then five relational reports over one warm star schema (a
    dashboard re-running its reports)."""

    name = "analytics"
    keys = LLM_KEYS + SQL_KEYS
    min_rounds = 2
    #: The warm-up round's corpus. That round pays one-time costs (class
    #: loading, code generation, first JIT tiers), which do not grow with
    #: the corpus, so a small one saves ~5 s of set-up.
    warm_scale = gen.Scale(documents=100, embeddings=100)

    @property
    def min_ops(self) -> int:
        return self.min_rounds * len(self.keys)

    def setup(self, spark, work: str, seed: int, tracer: Tracer | None) -> None:
        from hive3_replication_spark.registry import build_oracles, build_queries

        self.spark, self.seed, self.work = spark, seed, work
        self.cpu = WorkCpu(spark)
        self.queries = build_queries()
        self.oracles = build_oracles()
        self.star = gen.star_schema(f"{work}/star", seed)
        self.star_con = checks.oracle_connection(self.star)
        self.round_no = 0
        self.pair_counts: list[tuple[int, int]] = []
        self.warm = [self._round(None, check=False, scale=self.warm_scale)]

    def start_window(self) -> None:
        pass

    def end_window(self, rounds: list[Round]) -> None:
        self.star_con.close()

    def round(self, tracer: Tracer | None) -> Round:
        return self._round(tracer, check=True)

    def _op(self, client: Client, key: str, data: str):
        """One timed op; returns its record and the DataFrame it wrote, so
        the check verifies exactly what was measured."""
        tr = client.tracer
        built = []

        def body(mark):
            mark("build")
            with tr.span("registry.build") if tr else _NO_SPAN:
                df = self.queries[key](self.spark, data)
            built.append(df)
            phases = None
            if tr is not None:
                mark("plan")
                with tr.span("catalyst.plan"):
                    phases = catalyst_phases_ms(df)
            mark("exec")
            with tr.span("sink.noop_exec") if tr else _NO_SPAN:
                df.write.format("noop").mode("overwrite").save()
            return phases

        rec, phases = client.run(key, body)
        for name, ms in (phases or {}).items():
            rec.layers[f"catalyst.{name}_ms"] = ms
        return rec, built[0]

    def _round(
        self, tracer: Tracer | None, check: bool, scale: gen.Scale = gen.Scale()
    ) -> Round:
        data = gen.corpus(
            f"{self.work}/corpus{self.round_no}", self.seed, self.round_no, scale
        )
        self.round_no += 1
        client = Client(self.spark, tracer, self.cpu)
        done = [self._op(client, key, data) for key in LLM_KEYS]
        done += [self._op(client, key, self.star) for key in SQL_KEYS]
        ops = [rec for rec, _ in done]
        rnd = Round(sum(op.wall for op in ops), ops)
        if check:
            con = checks.oracle_connection(data)
            for rec, df in done:
                oracle = con if rec.key in LLM_KEYS else self.star_con
                why = checks.analytics_mismatch(
                    df.toPandas(), oracle, self.oracles[rec.key]
                )
                if why:
                    rec.ok, rec.why = False, why
            con.close()
        if tracer is not None:
            self.pair_counts.append(ngram_pair_counts(self.spark, data))
        return rnd


def ngram_pair_counts(spark, data: str) -> tuple[int, int]:
    """(pairs scored, pairs kept) of the exact n-gram scorer on one corpus,
    from its public entry point with the memo bypassed."""
    from hive3_replication_spark.catalog import load_table
    from hive3_replication_spark.llm.dedup import ngram_pair_jaccard

    docs = load_table(spark, data, "documents")
    scored = ngram_pair_jaccard(
        docs, "perfbench_pairs", memo_token=None, min_jaccard=0.0
    ).count()
    kept = ngram_pair_jaccard(docs, "perfbench_pairs", memo_token=None).count()
    return scored, kept


WORKLOADS = {w.name: w for w in (ReplCdc, Analytics)}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def instrument(tracer: Tracer) -> None:
    """Wrap each measured layer's public functions where callers find them.
    ``pipeline`` reaches snapshot/incremental through module attributes
    and imported ``RunLock`` by name; ``load_table`` is imported by name
    into every operator module."""
    from hive3_replication_spark import catalog
    from hive3_replication_spark.repl import incremental, pipeline, snapshot

    tracer.wrap(pipeline, "run_replication", "repl.pipeline.run_replication")
    tracer.wrap_context_manager(pipeline, "RunLock", "repl.registry.lock")
    tracer.wrap_context_manager(snapshot, "RunLock", "repl.registry.lock")
    for fn in ("repl_status", "bootstrap_load"):
        tracer.wrap(snapshot, fn, f"repl.snapshot.{fn}")
    tracer.wrap(
        snapshot, "bootstrap_dump", "repl.snapshot.bootstrap_dump",
        on_result=lambda tr, out: tr.count(
            "repl.snapshot.boot_bytes", _dir_bytes(out["dump_path"])
        ),
    )
    tracer.wrap(
        snapshot, "sync_static_tables", "repl.snapshot.sync_static_tables",
        on_result=lambda tr, out: tr.count("repl.snapshot.tables_synced", len(out)),
    )
    tracer.wrap(
        snapshot, "drop_removed_tables", "repl.snapshot.drop_removed_tables",
        on_result=lambda tr, out: tr.count("repl.snapshot.tables_dropped", len(out)),
    )
    for fn in ("incremental_dump", "apply_events"):
        tracer.wrap(incremental, fn, f"repl.incremental.{fn}")
    tracer.wrap_everywhere(
        catalog.load_table, "catalog.load_table", "hive3_replication_spark"
    )

