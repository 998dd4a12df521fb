"""SparkSession factory and engine-level configuration.

Replaces the reference's config layer (``env.sh`` + ``init_variables.sh``,
see SURVEY.md §3.1 step 2): instead of sourcing shell globals we build a
SparkSession with scale-oriented defaults and expose ``ensure_engine_confs``
so any externally supplied session (e.g. the verification driver's) is
normalized to the engine's expectations at runtime.

Scale notes (100 TB design point):
- AQE on: runtime join-strategy switching, skew-join splitting, and shuffle
  partition coalescing replace hand tuning per query.
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE coalesces.
  Exchanges AQE cannot coalesce keep it: a pinned ``repartition(n, ...)``,
  a ``localCheckpoint()`` of a post-shuffle relation and a persisted
  relation. So ``get_spark`` sizes it to the session's worker threads:
  ``local[k]`` gets ``2*k`` (``shuffle_partitions_for``). The old fixed
  32, tuned on a 32-core host, ran 32-task stages on 2 threads: one
  perfbench ``analytics`` round on ``local[2]`` ran 582 tasks over 500
  documents, and ``2*k`` cut its work CPU by about a third. A cluster
  master keeps 32; on a real cluster set it to ~2-3x total cores.
- Arrow on: every pandas UDF / mapInPandas transfer is vectorized.
- Session timezone pinned to UTC so event-time windows are cluster-invariant.
- Generated code is kept across re-runs: the codegen class cache holds
  ``CODEGEN_CACHE_ENTRIES`` classes, above the whole registry's working set,
  so a re-run plan shape reuses its compiled classes instead of recompiling.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

# Confs that must hold on ANY session running engine code. All of these are
# runtime-settable SQL confs (verified on Spark 4.1.2).
RUNTIME_CONFS: dict[str, str] = {
    # The driver fixtures store events.ts as parquet TIMESTAMP(NANOS), which
    # Spark cannot represent natively (PARQUET_TYPE_ILLEGAL). Read as long
    # and convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic event-time semantics regardless of host timezone.
    "spark.sql.session.timeZone": "UTC",
    # Runtime re-planning: join strategy switching, skew splitting, coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas UDF exchanges.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # PySpark 4's DataFrame-debugging origin capture decorates EVERY
    # DataFrame/Column API call with call-site enrichment: a
    # getActiveSession, an un-cached JVM conf.get
    # (spark.sql.stackTracesInDataFrameContext), a PySparkCurrentOrigin
    # set/clear pair, and a Python stack walk — measured ~3-6 ms per API
    # call, which made driver-side PLAN CONSTRUCTION rival execution for
    # expression-dense operators (llm_cluster_kmeans: ~1.0 s of a 2.4 s
    # run was py4j round-trips; ~2.9k per build). The feature only adds
    # call-site lines to error messages; results are unaffected.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Bound plan-TEXT rendering (default is ~Int.MaxValue): AQE renders
    # explainString on every runtime re-plan, and a deep-lineage plan's
    # text can exceed a stock 1g driver heap — measured round 15 as a
    # "serve-Arrow" OutOfMemoryError inside QueryExecution.explainString
    # in a driver-shaped plain session. 32 MB is orders of magnitude
    # above any legitimate explain while keeping the render bounded.
    "spark.sql.maxPlanStringLength": "33554432",
}

# Entries in Spark's generated-code class cache
# (spark.sql.codegen.cache.maxEntries, default 100). A static conf: only
# sessions get_spark builds carry it; ensure_engine_confs cannot set it on
# a session built elsewhere. Sized to the engine's whole plan working set:
# one sweep of all 256 registry keys compiles 2,676 distinct classes at
# sf0.001 and 2,682 at sf0.01 (Spark 4.1.2), so 4096, the next power of
# two, holds the registry with headroom. At 100, one perfbench analytics
# round (~320 classes) evicted its own classes and every re-run of the
# same plan shapes paid Janino again (~300 compiles a round). Cost: after
# two sweeps Metaspace held 245 MB against 226 MB at 100, and the
# profiled CodeHeap 92 of its 117 MB.
CODEGEN_CACHE_ENTRIES = 4096

#: Initial shuffle partitions for a master that is not ``local``: the
#: engine's long-standing default, left for the cluster to override.
CLUSTER_SHUFFLE_PARTITIONS = 32

#: ``local``, ``local[k]``, ``local[*]``, ``local[k,f]`` and ``local[*,f]``
#: (f = task failures allowed), the local masters Spark accepts.
_LOCAL_MASTER = re.compile(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?")


def shuffle_partitions_for(
    master: str, cores: int, requested: int | None = None
) -> int:
    """The initial shuffle partition count ``get_spark`` gives a session on
    ``master``: ``requested`` if given, else ``$SPARK_SHUFFLE_PARTITIONS``
    if set, else two per worker thread of a local master (``local[*]``
    runs ``cores`` threads, bare ``local`` one) and
    ``CLUSTER_SHUFFLE_PARTITIONS`` for any other master. Two per thread
    keeps every thread busy when one task runs long; tier-1's ``local[4]``
    at 8 partitions has always run at that ratio."""
    if requested is not None:
        return requested
    env = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
    if env:
        return int(env)
    m = _LOCAL_MASTER.fullmatch(master.strip())
    if m is None:
        return CLUSTER_SHUFFLE_PARTITIONS
    threads = m.group(1)
    if threads is None:
        return 2
    return 2 * max(1, cores if threads == "*" else int(threads))


def ensure_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply engine-required runtime confs to an existing session.

    Idempotent; called from catalog.load_table so every operator works
    even when invoked with a session the engine did not build. The
    applied state is remembered per Python session object (round-15
    optimization): every load_table call otherwise paid ~2.5 ms of py4j
    conf round-trips, which across a few hundred table loads per bench
    pass is whole seconds of pure driver overhead. A session the engine
    has already normalized is skipped outright; an externally built
    wrapper object (no marker attribute) still takes the full path. The
    engine never mutates RUNTIME_CONFS keys after normalization (and no
    test does), so the skip cannot mask a drifted conf."""
    if getattr(spark, "_h3r_confs_ok", False):
        return spark
    for key, value in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf not recognized/settable
            pass
    # The debugging gate above is read ONCE per Python process and cached
    # (pyspark.errors.utils.is_debugging_enabled): on an externally built
    # session a decorated call made before this normalization would pin
    # the cache to True for the rest of the process, re-charging the
    # per-call origin capture to every operator. Prime the cache to match
    # the conf just set; best-effort (private attribute — skip silently
    # if the layout changes).
    try:  # pragma: no cover - exercised implicitly by every bench run
        from pyspark.errors import utils as _perr_utils

        _perr_utils._enable_debugging_cache = False
    except Exception:
        pass
    try:
        spark._h3r_confs_ok = True
    except Exception:  # pragma: no cover - frozen/slotted session object
        pass
    return spark


def _default_driver_memory() -> str:
    """Pick a local-mode driver heap that fits the host: 24g only when the
    machine actually has headroom for it (>= 96 GiB), else 4g. In local
    mode the driver JVM hosts all executor threads so this IS the executor
    heap; sizing it to the 128 GiB test host unconditionally would let a
    long suite drive a small dev box into swap before any JVM limit
    applies. 4g is twice what the test suite needs: on a 4-core 15 GiB
    host its live heap after a full GC was 345-410 MB at the end and at
    most ~1.1 GB after an old-generation collection mid-run, it passed
    alike at 8g and 4g (258 s both), and the JVM peaked at 5.4 GB RSS
    instead of 8.2 GB, leaving room for a second Spark process beside it.
    SPARK_DRIVER_MEMORY always wins."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) / (1024 * 1024)
                    return "24g" if total_gib >= 96 else "4g"
    except OSError:  # pragma: no cover - non-Linux fallback
        pass
    return "4g"


def get_spark(
    app_name: str = "hive3_replication_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it unset and submit via spark-submit/YARN/K8s. The
    initial shuffle partition count follows ``shuffle_partitions_for`` the
    master the session runs, where ``local[*]`` counts the processors the
    JVM sees; a ``spark.sql.shuffle.partitions`` in ``extra_confs`` wins.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Local-mode friendliness; harmless on a cluster (overridden there).
        # 8g across 32 task threads meant constant old-gen GC once a long
        # suite accumulated garbage (measured 15% suite-wide slowdown at
        # sf0.1); 24g fixes that but only on hosts that can afford it —
        # see _default_driver_memory.
        .config("spark.driver.memory", _default_driver_memory())
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if "spark.sql.shuffle.partitions" not in (extra_confs or {}):
        # a runtime SQL conf, so it can follow the session's real master
        sc = spark.sparkContext
        cores = sc._jvm.java.lang.Runtime.getRuntime().availableProcessors()
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions_for(sc.master, cores, shuffle_partitions)),
        )
    return ensure_engine_confs(spark)
