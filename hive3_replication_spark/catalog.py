"""Table catalog: schema-normalized access to the engine's tables.

The reference delegates schema ownership to the Hive metastore and is itself
schema-agnostic (SURVEY.md §1.2). Here the catalog is a thin layer over
parquet directories: one table per file/dir, explicit normalization at the
ingest edge only (ns-timestamp → microsecond TimestampType), everything else
flows through Catalyst untouched so predicate pushdown / column pruning hit
the parquet scan.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import cache
from .session import ensure_engine_confs

#: Tables provided by the test fixtures (TESTDATA.md / FIXTURES.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Columns stored as parquet TIMESTAMP(NANOS); Spark reads them as long
#: (nanosAsLong) and we convert to microsecond TimestampType here, matching
#: DuckDB's CAST(ts_ns AS TIMESTAMP) truncation semantics exactly.
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
}

def footer_schema(spark: SparkSession, path: str | Path) -> T.StructType | None:
    """Spark schema of a parquet table read from one file footer,
    driver-side, with no Spark job. Schema inference
    (``spark.read.parquet`` with no schema) launches a footer-read job of
    its own, ~40 ms of work CPU per call.

    Like Spark's ``mergeSchema=false`` inference, it reads one footer:
    the first data file of a flat directory, or the file itself. Reading
    every footer to check uniformity cost more than the job it replaces
    on a many-file table, and the events stream gains a file every
    replication tick.

    The conversion is a strict allowlist of types whose inference result
    is unambiguous: ints, floats, strings, booleans, dates, binary,
    µs-timestamps, and arrays of these. A tz-less µs timestamp maps to
    TimestampNTZ when ``spark.sql.parquet.inferTimestampNTZ.enabled`` is
    on (Spark 4's default) and to TimestampType otherwise, exactly as
    inference does. Anything else — ns or INT96 timestamps, nested
    structs, maps, dictionaries — and any directory with subdirectories
    (partition columns) returns None, and the caller infers as before. So
    does a path that cannot be listed locally (a remote URI)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    try:
        first = _first_data_file(Path(path))
        if first is None:
            return None
        arrow = pq.read_schema(first)
    except (OSError, pa.ArrowException):
        return None
    prims = {
        pa.int8(): T.ByteType(), pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(), pa.int64(): T.LongType(),
        pa.float32(): T.FloatType(), pa.float64(): T.DoubleType(),
        pa.string(): T.StringType(), pa.large_string(): T.StringType(),
        pa.bool_(): T.BooleanType(), pa.date32(): T.DateType(),
        pa.binary(): T.BinaryType(), pa.large_binary(): T.BinaryType(),
    }
    ntz: list[bool] = []  # the conf, read once and only when needed

    def conv(t):
        if t in prims:
            return prims[t]
        if isinstance(t, pa.TimestampType) and t.unit == "us":
            if t.tz is not None:
                return T.TimestampType()
            if not ntz:
                ntz.append(spark.conf.get(
                    "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
                ).lower() == "true")
            return T.TimestampNTZType() if ntz[0] else T.TimestampType()
        if isinstance(t, (pa.ListType, pa.LargeListType)):
            inner = conv(t.value_type)
            return T.ArrayType(inner, True) if inner is not None else None
        return None

    fields = []
    for field in arrow:
        st = conv(field.type)
        if st is None:
            return None
        fields.append(T.StructField(field.name, st, True))
    return T.StructType(fields)


def _first_data_file(p: Path) -> Path | None:
    """The file itself, or the first data file (by name) of a flat table
    directory; None for an empty directory or one with subdirectories.
    Hidden and metadata entries (``.``/``_`` prefixes) are skipped, as
    Spark skips them."""
    if not p.is_dir():
        p.stat()  # OSError for a missing or remote path
        return p
    first = None
    with os.scandir(p) as it:
        for e in it:
            if e.name.startswith((".", "_")):
                continue
            if e.is_dir():
                return None
            if first is None or e.name < first:
                first = e.name
    return None if first is None else p / first


def read_parquet(spark: SparkSession, path: str | Path) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from ``footer_schema``
    where it maps, so the read launches no inference job."""
    schema = footer_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(str(path))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with normalized schema.

    Normalization happens at the ingest edge only: downstream operators see
    proper TimestampType and can rely on Catalyst pushing filters into the
    parquet scan (the ns->us conversion is a projection, so pruning of other
    columns still reaches the reader).

    The plan is memoized per (session, path) and keyed on the payload's
    ``cache.table_fingerprint``. A DataFrame is an immutable LAZY PLAN, so
    returning the same object for a repeated load is plan reuse, not a
    result cache: every action still computes from the parquet inputs.
    Building the plan costs ~15-30 ms of JVM analysis, and a bench pass
    makes a few hundred loads. A file rewritten in place inside a table
    directory changes the fingerprint, so it misses. The value holds the
    session, so a collected session's id() cannot alias a new one. An
    unstatable path (a remote URI) is not memoized.
    """
    ensure_engine_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    fp = cache.table_fingerprint(path)
    if fp is None:
        return _load(spark, path, name)
    return cache.get(
        ("catalog.load_table", id(spark), path), fp,
        lambda: (spark, _load(spark, path, name)),
    )[1]


def _load(spark: SparkSession, path: str, name: str) -> DataFrame:
    df = read_parquet(spark, path)
    for col in _NANOS_TS_COLUMNS.get(name, ()):
        field = next((f for f in df.schema.fields if f.name == col), None)
        if field is not None and isinstance(field.dataType, T.LongType):
            # integer DIV, not `/`: ns-since-epoch (~1.7e18) exceeds double's
            # 2^53 integer range, so float division would round the microsecond
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` DIV 1000"))
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every fixture table (lazy plans; nothing is materialized)."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


#: DuckDB twin of ``load_embeddings`` — an UNALIASED subquery, so the
#: registry's mechanical ``embeddings`` → ``(subquery)`` relation
#: substitution stays valid whether or not the original reference
#: carried its own alias (``FROM embeddings e`` / ``JOIN embeddings ce``
#: / bare ``FROM embeddings``).
EMB_CLEAN_SUBQUERY = (
    "(SELECT * FROM embeddings"
    " WHERE embedding IS NOT NULL AND len(embedding) > 0"
    " AND (list_max(embedding) <> 0 OR list_min(embedding) <> 0))"
)


def embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    """Dimensionality of the embeddings relation (length of the first
    clean vector). Consumers build per-dimension expression lists from
    this, so it must be a driver-side int. The vector width is structural
    metadata that parquet cannot carry for list columns, and probing it
    is one Spark job (~120 ms), so it is memoized per path and keyed on
    the payload's ``cache.table_fingerprint``: one probe per dataset per
    process, and a rewritten payload re-probes."""
    path = f"{sf_dir}/embeddings.parquet"

    def probe() -> int:
        return len(load_embeddings(spark, sf_dir).select("embedding").first()[0])

    fp = cache.table_fingerprint(path)
    if fp is None:
        return probe()
    return cache.get(("catalog.embedding_dim", path), fp, probe)


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings relation every vector operator consumes: NULL,
    empty, and all-zero vectors are excluded at the source (one narrow
    pushed-down filter on the scan). A zero-norm embedding has no cosine
    direction — every normalized similarity would ANSI-fault on the 0
    divisor — and real 100 TB corpora DO contain such rows (failed or
    padded encoder outputs), so the policy is pinned HERE once rather
    than per-op (hostile-row fuzz wave 2, round 12: 12 vector keys
    faulted on one planted zero vector). The zero-norm test is exact
    and lambda-free — all-zero ⇔ array_max = 0 ∧ array_min = 0 — using
    plain collection expressions instead of a higher-order ``exists()``
    so the predicate stays inside whole-stage codegen on every rescan
    of the relation (kmeans re-evaluates this subtree per unrolled
    iteration); identical in the SQL twin ``EMB_CLEAN_SUBQUERY``.

    The cleaned plan is memoized like ``load_table``'s (lazy plan-object
    reuse, metadata only): eight vector operators re-derived the identical
    filter per invocation."""
    path = f"{sf_dir}/embeddings.parquet"

    def build() -> DataFrame:
        zero = F.lit(0.0).cast("float")
        return load_table(spark, sf_dir, "embeddings").where(
            F.col("embedding").isNotNull()
            & (F.size("embedding") > 0)
            & (
                (F.array_max("embedding") != zero)
                | (F.array_min("embedding") != zero)
            )
        )

    fp = cache.table_fingerprint(path)
    if fp is None:
        return build()
    return cache.get(
        ("catalog.load_embeddings", id(spark), path), fp,
        lambda: (spark, build()),
    )[1]
