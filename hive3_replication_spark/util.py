"""Small engine utilities."""

from __future__ import annotations

import atexit
import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from pyspark.sql.types import _parse_datatype_string  # noqa: PLC2701

#: Scratch dirs created this process, removed at interpreter exit.
_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:  # pragma: no cover - exit hook
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_scratch)


def scratch_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with registered end-of-process cleanup.

    All derived test-scaffold layouts (alt-format copies of the fixture
    tables, partitioned/bucketed layouts, the persisted IVF index) live
    in scratch dirs; without cleanup each bench/test run leaked one copy
    per layout (ADVICE r4). Cleanup runs at exit, after any Spark jobs
    that read the layout, or earlier when ``cache`` replaces a layout."""
    d = tempfile.mkdtemp(prefix=prefix)
    _SCRATCH_DIRS.append(d)
    return d


def remove_scratch(path: str) -> None:
    """Remove the scratch dir that holds ``path`` now, not at exit (a
    cached layout being replaced)."""
    for d in _SCRATCH_DIRS:
        if path == d or path.startswith(d + "/"):
            _SCRATCH_DIRS.remove(d)
            shutil.rmtree(d, ignore_errors=True)
            return


def fan_out(df: DataFrame, probe: DataFrame | None = None) -> DataFrame:
    """Round-robin repartition ``df`` to ``defaultParallelism`` when the
    (scan-rooted) ``probe`` relation yields fewer partitions than cores —
    the guard ``_shingles`` has always used, factored out (optimization
    round 15, guide §2.5 "input skew: one huge unsplittable file …
    repartition immediately after the read").

    The fixture tables are single parquet files (one split), so without
    this every narrow CPU-heavy map over them — tokenize/hash/distance
    chains — runs on ONE of the session's worker threads, however many
    the host has (``defaultParallelism``: ``k`` for ``local[k]``, the
    cluster's cores on a cluster). At warehouse scale input
    splits exceed parallelism and this is a no-op (no exchange added);
    results are unaffected in all the call sites (per-row maps and
    associative integer-sum aggregations, partition-invariant by design).
    ``probe`` defaults to ``df`` itself; pass the raw scan when ``df`` is
    a derived relation whose partitioning AQE would otherwise collapse.

    The probe's split count is memoized per probe OBJECT: ``.rdd`` costs
    a py4j plan conversion (~30-80 ms) per call, and probes are the
    catalog's memoized scan plans (one immutable object per (session,
    path, payload mtime) — a rewritten table yields a NEW object, so the
    memo can never serve a stale count). The memo holds its probes
    weakly, so an entry goes when its probe is collected.
    """
    probe = df if probe is None else probe
    sess = df.sparkSession
    par = sess.sparkContext.defaultParallelism
    nparts = _NPART_MEMO.get(probe)
    if nparts is None:
        nparts = _NPART_MEMO[probe] = probe.rdd.getNumPartitions()
    if nparts < par:
        return df.repartition(par)
    return df


def shuffle_partitions(spark: SparkSession) -> int:
    """The session's initial shuffle partition count
    (``spark.sql.shuffle.partitions``), for a site that pins an exchange
    AQE must not coalesce. Every session carries the conf, so there is no
    fallback; ``session.get_spark`` sizes it to the worker threads."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


#: fan_out's probe-partition-count memo: probe → split count. DataFrames
#: hash by identity; see fan_out's docstring.
_NPART_MEMO: weakref.WeakKeyDictionary[DataFrame, int] = (
    weakref.WeakKeyDictionary()
)


#: Constant Column-expression-tree memo (optimization round 16, guide
#: §1.2/§7.3 driver fixed costs). See ``expr_memo``.
_EXPR_MEMO: dict[tuple, object] = {}


def expr_memo(key: tuple, build):
    """Memoize a DATA-INDEPENDENT Column expression tree per process.

    A PySpark Column is an immutable UNRESOLVED expression tree; query
    analysis copies it (transform* returns new node instances), so one
    tree can be referenced by any number of plans and re-resolves cleanly
    in each. Building the engine's big HOF trees costs real driver time
    in py4j round-trips — measured per call on this host: the 48-plane
    LSH fold ~70 ms, the 32 MinHash permutation minima ~110 ms + band
    buckets ~130 ms, the 64 hashing-trick conditional sums ~100-300 ms,
    the k-means argmin ~45 ms — and the hot operators rebuild them on
    EVERY invocation (kmeans three times per run). The memo pays the
    construction once per process. METADATA only: nothing here touches
    rows, results, or runtime values — only trees built purely from
    module constants and fixed column names may be memoized (never a
    tree embedding query-specific data such as a collected vector). A key
    names every module constant its tree reads (``("sem_counts",
    SEM_DIMS)``), so changing one misses instead of serving the old tree.

    The tree holds py4j references into the driver JVM, which is
    per-process and outlives any individual SparkSession, so entries
    stay valid across session stop/start within one process. The memo is
    bounded by the number of distinct builder sites (a few dozen keys).
    """
    hit = _EXPR_MEMO.get(key)
    if hit is None:
        hit = _EXPR_MEMO[key] = build()
    return hit


def rows_df(
    spark: SparkSession, schema: StructType | str, rows: list[tuple]
) -> DataFrame:
    """Literal-rows DataFrame built entirely JVM-side.

    ``spark.createDataFrame(list, ...)`` routes tiny metadata relations
    through a Python-RDD scan, which costs a Python worker round-trip per
    job (~4 s per write in local mode — measured). Building the same rows
    as ``range(1) → explode(array(struct(lit…)))`` keeps small metadata
    relations pure JVM: ~20× faster and no Python in executor tasks. The
    replication manifest and watermark rows take this path only for
    remote roots; local roots are written driver-side by
    ``repl.snapshot.write_control_row``.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
        assert isinstance(schema, StructType)
    structs = []
    for row in rows:
        cols = []
        for field, value in zip(schema.fields, row):
            cols.append(F.lit(value).cast(field.dataType).alias(field.name))
        structs.append(F.struct(*cols))
    if not structs:
        return spark.createDataFrame([], schema)
    return (
        spark.range(1)
        .select(F.explode(F.array(*structs)).alias("_r"))
        .select("_r.*")
    )
