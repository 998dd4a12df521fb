"""Outside-in tracing for the benchmark's traced run.

The tracer wraps the program's public functions *where their callers look
them up* (a module attribute, or a name a module imported), records one
span per call on the client thread, and restores every original on
``uninstall``. Nothing here edits the program: the wrappers live in the
benchmark and exist only while a traced window runs.

Spark-side numbers come from the JVM status store, per job group: the
client tags each op's jobs with ``setJobGroup`` and, after the op, reads
jobs, stages, tasks, executor CPU and shuffle bytes of that group. Catalyst
phase times come from the op DataFrame's own ``QueryExecution`` tracker.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


#: Spans of the entry point the client calls; coverage counts the layers
#: below them, so an entry point's own glue code shows as uncovered.
ENTRY_POINTS = ("repl.pipeline.run_replication",)


@dataclass
class Span:
    name: str
    t0: float
    t1: float = 0.0
    parent: int | None = None
    op: int | None = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


@dataclass
class Op:
    """One timed client operation and everything attributed to it."""

    key: str
    index: int
    span: int = -1
    wall: float = 0.0
    counts: dict[str, float] = field(default_factory=lambda: defaultdict(float))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._thread = threading.get_ident()
        self._cur_op: Op | None = None

    # -- spans -------------------------------------------------------------

    def _open(self, name: str) -> int | None:
        if threading.get_ident() != self._thread:
            return None  # helper threads inside a layer are not spans
        parent = self._stack[-1] if self._stack else None
        op = self._cur_op.index if self._cur_op is not None else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        return idx

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].t1 = time.perf_counter()
        popped = self._stack.pop()
        if popped != idx:  # pragma: no cover - would mean a wrapper leaked
            raise RuntimeError(f"span stack corrupted at {self.spans[idx].name}")

    @contextmanager
    def span(self, name: str):
        idx = self._open(name)
        try:
            yield
        finally:
            self._close(idx)

    def begin_op(self, key: str) -> Op:
        if self._stack:
            raise RuntimeError("an op is already open")
        op = Op(key, index=len(self.ops))
        self.ops.append(op)
        op.span = self._open("op")
        self._cur_op = op
        return op

    def end_op(self, op: Op) -> None:
        self._close(op.span)
        self._cur_op = None
        op.wall = self.spans[op.span].dur

    def count(self, name: str, value: float = 1.0) -> None:
        if self._cur_op is not None:
            self._cur_op.counts[name] += value

    # -- patching ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` (a function) with a span-recording twin."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer._close(idx)
            if idx is not None:
                tracer.count(f"{name}#calls")
                if on_result is not None:
                    on_result(tracer, out)
            return out

        self._patch(owner, attr, traced)

    def wrap_context_manager(self, owner, attr: str, name: str) -> None:
        """Replace a context-manager class bound at ``owner.attr`` so that
        entering and leaving it (lock acquire and release) are spans."""
        orig_cls = getattr(owner, attr)
        tracer = self

        class Traced:
            def __init__(self, *args, **kwargs):
                self._inner = orig_cls(*args, **kwargs)

            def __enter__(self):
                with tracer.span(name):
                    tracer.count(f"{name}#calls")
                    return self._inner.__enter__()

            def __exit__(self, *exc):
                with tracer.span(name):
                    return self._inner.__exit__(*exc)

        self._patch(owner, attr, Traced)

    def wrap_everywhere(self, func, name: str, package: str) -> None:
        """Wrap every module-level binding of ``func`` inside ``package``
        (a function imported by name into many modules)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- summaries ----------------------------------------------------------

    def layer_times(self, op: Op) -> dict[str, float]:
        """Total duration (``name``) and self time (``name#self``) per span
        name within one op, plus ``#covered``: the time of the op's
        outermost named spans, looking through entry points."""
        mine = [i for i, s in enumerate(self.spans) if s.op == op.index]
        in_children: dict[int, float] = defaultdict(float)
        for i in mine:
            s = self.spans[i]
            if s.parent is not None:
                in_children[s.parent] += s.dur
        out: dict[str, float] = defaultdict(float)
        for i in mine:
            s = self.spans[i]
            out[s.name] += s.dur
            out[f"{s.name}#self"] += s.dur - in_children[i]
            parent = self.spans[s.parent] if s.parent is not None else None
            top = s.parent == op.span and s.name not in ENTRY_POINTS
            under_entry = (
                parent is not None
                and parent.name in ENTRY_POINTS
                and parent.parent == op.span
            )
            if top or under_entry:
                out["#covered"] += s.dur
        return out


# -- Spark-side readers ------------------------------------------------------


def spark_group_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages, tasks, executor CPU and shuffle bytes of the jobs run
    under ``groups``, from the JVM status store (works with the UI off)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(
        ("jobs", "stages", "tasks", "task_cpu_s", "shuffle_read_bytes",
         "shuffle_write_bytes"), 0.0,
    )
    seen: set[int] = set()
    for g in groups:
        for job_id in sc.statusTracker().getJobIdsForGroup(g):
            out["jobs"] += 1
            stage_ids = store.job(job_id).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
    return out


def gc_seconds(spark) -> float:
    """Cumulative JVM garbage-collection time (all collectors)."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


CATALYST_PHASES = ("analysis", "optimization", "planning")


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the DataFrame's own physical plan and read its phase tracker.
    A phase the tracker never recorded raises, so a refactor that stops
    planning through this DataFrame fails the trace loudly."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in CATALYST_PHASES:
        if not phases.contains(name):
            raise RuntimeError(f"Catalyst tracker has no {name!r} phase")
        out[name] = float(phases.apply(name).durationMs())
    return out
