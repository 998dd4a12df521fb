"""Source operators (SURVEY.md §2.1, S1-S6).

The reference's data plane is beeline-over-JDBC plus HDFS dump directories;
the engine's is ``spark.read`` with the format picked per edge: parquet for
payloads (vectorized reader + pushdown), JDBC for warehouse endpoints
(per BASELINE.json spark_approach), csv for delimited-resultset fidelity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..catalog import load_table
from ..session import ensure_engine_confs
from ..util import scratch_dir

#: Embedded Derby (in the Spark JVM) stands in for the HiveServer2 JDBC
#: endpoints (env.sh:4-5) — same spark.read/write.jdbc code path a real
#: warehouse URL would use.
_DERBY_URL = "jdbc:derby:memory:{name};create=true"
_DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"


def jdbc_write(df: DataFrame, db: str, table: str) -> None:
    """S2 — JDBC sink: execute DDL+inserts on a warehouse over JDBC (the
    engine analog of beeline statements at the target,
    ``beeline_functions.sh:18-23,220-226``)."""
    (
        df.write.format("jdbc")
        .option("url", _DERBY_URL.format(name=db))
        .option("dbtable", table)
        .option("driver", _DERBY_DRIVER)
        .mode("overwrite")
        .save()
    )


def jdbc_read(spark: SparkSession, db: str, query: str) -> DataFrame:
    """S1 — JDBC source: fetch a statement's resultset from a warehouse
    (``beeline_functions.sh:103-108``; URL ``env.sh:5``)."""
    return (
        spark.read.format("jdbc")
        .option("url", _DERBY_URL.format(name=db))
        .option("query", query)
        .option("driver", _DERBY_DRIVER)
        .load()
    )


def jdbc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 exercised end-to-end: push a slice of the events table to the
    warehouse over JDBC, then read it back with a pushed-down query. The
    round-trip result equals the original slice, so this has a full SQL
    oracle despite crossing JDBC twice.

    Scale note: a production JDBC read partitions on a numeric column
    (partitionColumn/lowerBound/upperBound/numPartitions) so executors fetch
    ranges in parallel; exercised in tests/test_sources.py.
    """
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    slice_df = events.filter(F.col("event_id") < 100).select(
        "event_id", "user_id", "value"
    )
    jdbc_write(slice_df, "repl_src", "events_slice")
    # Derby folds unquoted identifiers to upper case; Spark's writer created
    # quoted (case-exact) columns, so the pushed-down query quotes them too.
    out = jdbc_read(
        spark,
        "repl_src",
        'SELECT "event_id", "user_id", "value" FROM events_slice',
    )
    return out.select(
        F.col("event_id").cast("long"),
        F.col("user_id").cast("long"),
        F.col("value").cast("double"),
    )


def jdbc_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 — sink-side check: write an aggregate to the warehouse, read back
    the stored row count per key (the pattern of the reference's status
    writes at the target)."""
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("event_type").agg(F.count("*").alias("n_events"))
    jdbc_write(agg, "repl_tgt", "type_counts")
    out = jdbc_read(
        spark, "repl_tgt", 'SELECT "event_type", "n_events" FROM type_counts'
    )
    return out.select(
        F.col("event_type").cast("string"), F.col("n_events").cast("long")
    )


def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — payload scan with pushdown: projection + predicate reach the
    parquet reader (``.explain`` shows PushedFilters + a 3-column
    ReadSchema; asserted in tests/test_plans.py)."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    return lineitem.filter(
        F.col("l_shipdate") < F.lit("1995-01-01").cast("timestamp")
    ).select("l_orderkey", "l_quantity", "l_shipdate")


def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (csv edge) — delimited-file ingest with an explicit schema (the
    engine's schema policy: inference only at ingest boundaries, SURVEY.md
    §1.2): round-trip a slice of events through csv and read it back."""
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    out = scratch_dir(prefix="h3r_csv_") + "/events_csv"
    slice_df = events.filter(F.col("event_id") < 500).select(
        "event_id", "user_id", "event_type"
    )
    slice_df.write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(
        "event_id long, user_id long, event_type string"
    ).option("header", True).csv(out)


def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (orc edge) — ORC round-trip: the reference's ACID-table payloads
    are ORC on HDP 3 (SURVEY.md §1.3), so the engine reads/writes ORC
    natively at the ingest edge; parquet stays the canonical internal
    format."""
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    out = scratch_dir(prefix="h3r_orc_") + "/events_orc"
    slice_df = events.filter(F.col("event_id") < 500).select(
        "event_id", "user_id", "value"
    )
    slice_df.write.mode("overwrite").orc(out)
    return spark.read.schema("event_id long, user_id long, value double").orc(
        out
    )


def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (json edge) — JSON-lines ingest with explicit schema; same
    round-trip contract as scan_csv."""
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    out = scratch_dir(prefix="h3r_json_") + "/events_json"
    slice_df = events.filter(F.col("event_id") < 500).select(
        "event_id", "event_type", "value"
    )
    slice_df.write.mode("overwrite").json(out)
    return spark.read.schema(
        "event_id long, event_type string, value double"
    ).json(out)


def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (xml edge) — XML ingest via Spark 4's built-in XML source
    (spark-xml merged upstream, SPARK-44265): write a slice as rowTag
    records, read it back with an explicit schema — the feed format
    enterprise CDC/ERP exports still arrive in. Same round-trip contract
    as scan_csv/scan_json; at scale XML files split per rowTag like any
    text-based source."""
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    out = scratch_dir(prefix="h3r_xml_") + "/events_xml"
    slice_df = events.filter(F.col("event_id") < 500).select(
        "event_id", "event_type", "value"
    )
    (
        slice_df.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "events")
        .option("rowTag", "event")
        .save(out)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_id long, event_type string, value double")
        .load(out)
    )


def scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (text edge) — raw line ingest (``spark.read.text``): one row
    per line, the lowest-common-denominator format crawl dumps and log
    shippers emit. Reads the per-document payload files (binary_docs_path
    layout), keys each line by the doc_id in its filename, and emits the
    line length — proving the text source path end-to-end with an exact
    oracle against documents.n_chars.

    Zero-byte payloads NEVER SURFACE: a 0-byte file has no line, so the
    text source emits no row for it (measured; the seed-61 fuzz caught
    the oracle counting them). At 100 TB this is a real ingestion
    footgun — empty objects silently vanish from line-based reads — so
    pipelines needing presence semantics must ingest via a listing join
    or guard empties upstream; the oracle mirrors the skip."""
    path = binary_docs_path(spark, sf_dir)
    df = (
        spark.read.option("pathGlobFilter", "*.txt")
        .text(path)
        .withColumn("file", F.input_file_name())
    )
    return df.select(
        F.regexp_extract(F.col("file"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length(F.col("value")).cast("long").alias("n_line_chars"),
    )


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 — schema-drift ingestion (``mergeSchema``): batch 1 lands with
    3 columns, batch 2 adds a 4th — the replication reality the reference
    handles by replaying DDL events (``README.md`` ALTER replay); on the
    Spark side the parquet reader merges footer schemas and NULL-backfills
    the missing column, so downstream plans see ONE stable schema across
    drift. At scale mergeSchema reads only footers (not data) to build
    the union schema; pinning an explicit schema after the first merge
    avoids even that."""
    ensure_engine_confs(spark)
    out = _schema_evolution_path(spark, sf_dir)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.select("event_id", "event_type", "v2")


def _schema_evolution_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the two drifted batches once per events payload — the
    cached-layout convention every staged-scan key here uses
    (``cache.layout``): the S11 surface under test is the mergeSchema
    READ, so the min-over-passes bench measures the amortized read path
    while the first pass still pays the write (optimization round 15;
    previously both batch writes re-ran on every invocation)."""

    def build() -> str:
        events = load_table(spark, sf_dir, "events")
        out = scratch_dir(prefix="h3r_evo_") + "/events_evo"
        old = events.filter(F.col("event_id") < 200).select(
            "event_id", "event_type"
        )
        new = events.filter(
            (F.col("event_id") >= 200) & (F.col("event_id") < 400)
        ).select("event_id", "event_type", F.col("value").alias("v2"))
        old.write.mode("overwrite").parquet(out + "/batch=1")
        new.write.mode("overwrite").parquet(out + "/batch=2")
        return out

    return cache.layout("schema_evolution", sf_dir, ("events",), build)


def partitioned_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the events table partitioned by event date — the 100 TB
    layout for the change stream (SURVEY.md §4: partitioned writes +
    partition pruning make incremental runs O(delta)). Cached per events
    payload (``cache.layout``) so repeated queries reuse the layout."""

    def build() -> str:
        out = scratch_dir(prefix="h3r_part_") + "/events_by_day"
        events = load_table(spark, sf_dir, "events")
        (
            events.withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")  # one writer task per partition value
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(out)
        )
        return out

    return cache.layout("partitioned_events", sf_dir, ("events",), build)


def scan_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5b — partition-pruned scan: a date predicate on a date-partitioned
    layout touches only matching partition directories (PartitionFilters in
    the plan, asserted in tests/test_plans.py) — the difference between
    reading a day and reading 100 TB."""
    path = partitioned_events_path(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("event_date") < F.lit("2024-01-03").cast("date"))
        .groupBy("event_date", "event_type")
        .agg(F.count("*").alias("n_events"))
    )


_N_BUCKETS = 8


def bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize orders + lineitem as bucketed tables on the join key.

    Bucketing pre-shuffles ONCE at write time: both sides are hash-split
    into the same number of buckets on ``orderkey``, so every later join
    or aggregation on that key runs with zero exchange — the 100 TB answer
    to "this fact-fact join shuffles 100 TB every run". Registered in the
    session catalog; cached per (orders, lineitem) payload like the
    partitioned layout above.
    """
    ensure_engine_confs(spark)
    # sanitize the whole dir-derived tag: any non-identifier char (path
    # separators in non-fixture dirs, dots in sf names) breaks the SQL
    # identifier — surfaced by the randomized-corpus fuzz pass
    import re

    tag = re.sub(
        r"[^0-9A-Za-z_]", "_", sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    )
    names = (f"h3r_orders_b{tag}", f"h3r_lineitem_b{tag}")

    def build() -> str:
        root = scratch_dir(prefix="h3r_bucketed_")
        for name, table, key in (
            (names[0], "orders", "o_orderkey"),
            (names[1], "lineitem", "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                # Pre-partition on the bucket key with numPartitions ==
                # numBuckets: HashPartitioning uses the same hash family as
                # bucket assignment, so each task holds exactly one bucket
                # and writes exactly one file. Without this, every input
                # task writes all N bucket files — tasks × buckets small
                # files at 100 TB, and a per-task N-way sort.
                load_table(spark, sf_dir, table)
                .repartition(_N_BUCKETS, key)
                .write.mode("overwrite")
                .option("path", f"{root}/{name}")
                .bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(name)
            )
        return root

    cache.layout("bucketed", sf_dir, ("orders", "lineitem"), build)
    return names


def scan_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5c — co-located join over bucketed tables: orders ⋈ lineitem on the
    bucket key with NO shuffle on either side (tests/test_plans.py asserts
    the plan is exchange-free when broadcast is disabled). The aggregation
    after the join groups by the same key family, so the whole query runs
    bucket-local."""
    orders_t, lineitem_t = bucketed_tables(spark, sf_dir)
    orders = spark.table(orders_t)
    li = spark.table(lineitem_t)
    joined = orders.join(li, orders.o_orderkey == li.l_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_price"),
    )


#: Files in the z-ordered layout: the pruning granularity. 16 gives
#: ~4×4 value-quarter boxes under the 8-bit rank interleave below, so a
#: single-column predicate on EITHER dimension overlaps only the file
#: strip containing its value (measured in tests/test_zorder_layout.py:
#: each single-value predicate reads ≤60% of files; most read ≤50%).
_Z_FILES = 16
#: Rank-normalization width per dimension. Both cluster keys are scaled
#: to 0..255 BEFORE interleaving: MSB-aligned interleave is what makes
#: z-order balanced when the dimensions' cardinalities differ (30 days
#: vs 5 event types here) — interleaving raw values bit-0-aligned puts
#: the low-cardinality key entirely in the low z bits, and every file
#: then spans ALL its values (pruning measured 15/16 files read; the
#: normalized form measured ≤8/16).
_Z_NORM_BITS = 8


def _interleave_bits(dn, cn):
    """Morton/z-value of two ``_Z_NORM_BITS``-bit codes: bit i of the
    date rank lands at z bit 2i, bit i of the type rank at 2i+1. Pure
    integer shift/mask arithmetic — JVM-side, whole-stage-codegen'd,
    and ANSI-safe (max z = 2^16)."""
    z = F.lit(0).cast("long")
    for i in range(_Z_NORM_BITS):
        z = (
            z
            + F.shiftleft(
                F.shiftright(dn, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i
            )
            + F.shiftleft(
                F.shiftright(cn, i).bitwiseAND(F.lit(1)).cast("long"),
                2 * i + 1,
            )
        )
    return z


def zorder_events_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize events in a Z-ORDER (Morton space-filling-curve)
    layout clustered on (event day, event_type) — the lakehouse-standard
    companion to the date-partitioned (S5b) and bucketed (S5c) layouts:
    ONE file population whose parquet min/max stats prune on BOTH
    cluster dimensions, where partitioning prunes only its directory
    key. Cached per events payload (``cache.layout``)."""
    return cache.layout(
        "zorder_events", sf_dir, ("events",),
        lambda: _write_zorder_events(spark, sf_dir),
    )


def _write_zorder_events(spark: SparkSession, sf_dir: str) -> str:
    out = scratch_dir(prefix="h3r_zorder_") + "/events_zorder"
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    # Dense LEXICAL rank per event_type: parquet prunes a string column
    # by file-level min/max, so the cluster code must follow the
    # column's own sort order (a hash code would co-locate identical
    # types but leave each file's lexical [min, max] spanning the whole
    # alphabet). The distinct+rank relation is |event types| rows —
    # tiny by nature — so the single-partition window is a write-time
    # no-op at any corpus scale, and it rides back on a broadcast join.
    wt = Window.orderBy("event_type")
    codes = (
        events.select("event_type")
        .filter(F.col("event_type").isNotNull())
        .distinct()
        .withColumn("type_code", F.row_number().over(wt) - 1)
        .withColumn(
            "n_types",
            F.count("*").over(
                Window.partitionBy(F.lit(1)).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    # Day-range stats: 1-row aggregate broadcast back (lazy two-phase
    # planning, same device as the IVF probe cells) — rank-normalizes
    # arbitrary date ranges, including hostile far-past/far-future fuzz
    # dates, with no assumption about the epoch.
    stats = events.agg(
        F.min(F.datediff("event_date", F.lit("1970-01-01").cast("date")))
        .alias("min_day"),
        F.max(F.datediff("event_date", F.lit("1970-01-01").cast("date")))
        .alias("max_day"),
    )
    day_abs = F.datediff("event_date", F.lit("1970-01-01").cast("date"))
    scale = F.lit(1 << _Z_NORM_BITS).cast("long")
    dn = (
        (F.coalesce(day_abs, F.col("min_day")) - F.col("min_day"))
        .cast("long")
        * scale
    ) / (F.col("max_day") - F.col("min_day") + 1)
    cn = (F.coalesce(F.col("type_code"), F.lit(0)).cast("long") * scale) / (
        F.col("n_types").cast("long")
    )
    coded = (
        events.join(F.broadcast(codes), "event_type", "left")
        .crossJoin(F.broadcast(stats))
        .withColumn("z", _interleave_bits(F.floor(dn), F.floor(cn)))
    )
    (
        # repartitionByRange on z = range-partitioned space-filling
        # curve: each output file owns one contiguous z range (one
        # rectangle-ish region of the (day, type) plane), which is
        # exactly what gives every file narrow min/max on BOTH raw
        # columns. sortWithinPartitions tightens row-group stats too.
        coded.repartitionByRange(_Z_FILES, "z")
        .sortWithinPartitions("z")
        .select(*events.columns)  # helper columns stay out of the layout
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def scan_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5g — multi-column stats-pruned scan over the z-ordered layout:
    a predicate on event_type alone — the dimension the S5b date
    partitioning CANNOT prune — skips most files via parquet min/max
    stats (file-level pruning measured in tests/test_zorder_layout.py;
    PushedFilters asserted in tests/test_plans.py). At 100 TB this is
    the difference between one clustered write amortized over every
    ad-hoc two-dimensional slice, and a full scan for every predicate
    that isn't the partition key. The layout is semantics-neutral, so
    the oracle is the same aggregate over the raw events table."""
    path = zorder_events_path(spark, sf_dir)
    df = spark.read.parquet(path)
    return (
        df.filter(F.col("event_type") == "click")
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,3)"))
            .cast("double")
            .alias("sum_value"),
        )
    )


def delimited_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — beeline resultset parsing (``init_variables.sh:47`` pipe
    format; ``beeline_functions.sh:24`` awk parse): build pipe-delimited
    lines, then split/trim/cast columns back out — the reference's row-4
    column-2 extraction generalized to every row."""
    nation = load_table(spark, sf_dir, "nation")
    line = F.concat(
        F.lit("| "),
        F.col("n_name"),
        F.lit(" | "),
        F.col("n_nationkey").cast("string"),
        F.lit(" |"),
    )
    lines = nation.select(line.alias("line"))
    return lines.select(
        F.trim(F.split_part(F.col("line"), F.lit("|"), F.lit(2))).alias(
            "parsed_name"
        ),
        F.trim(F.split_part(F.col("line"), F.lit("|"), F.lit(3)))
        .cast("long")
        .alias("parsed_key"),
    )


def binary_docs_path(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a directory of one .txt payload file per sampled document
    — test scaffolding standing in for the object-store binary corpus that
    already exists in production (raw crawl dumps, image/audio blobs). The
    driver-side write is setup, not the measured operator; cached per
    documents payload like the other layouts."""

    def build() -> str:
        out = scratch_dir(prefix="h3r_binfiles_")
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 7 == 0)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(f"{out}/doc_{r['doc_id']:08d}.txt", "wb") as f:
                f.write(r["text"].encode("utf-8"))
        return out

    return cache.layout("binary_docs", sf_dir, ("documents",), build)


def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — opaque-file ingestion via Spark's built-in ``binaryFile``
    source: one row per file with (path, length, content bytes) — the
    ingestion edge for multimodal corpora (images/audio land as files, the
    engine maps them to binary columns; SURVEY.md §2.11 L6 consumes this
    shape). The reference's distcp file-copy stage (``misc_functions.sh``)
    reads files as opaque payloads the same way.

    Zero-byte objects are SKIPPED by the binaryFile source (an empty
    file yields no partition, hence no row — measured; seed-61 fuzz).
    Same ingestion footgun and same guard as scan_text; the oracle
    mirrors the skip.

    Scale: binaryFile is a standard FileScan — files split across tasks,
    pathGlobFilter prunes at listing time, and only the projected columns
    materialize (content is read lazily per-row). Output keys each payload
    by the doc_id encoded in its filename and its exact byte length."""
    path = binary_docs_path(spark, sf_dir)
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    return df.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.txt$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length(F.col("content")).cast("long").alias("n_bytes"),
    )


_SYNTH_N = 2_000
_SYNTH_PARTS = 4
_SYNTH_MULT = 1_103_515_245
_SYNTH_INC = 12_345
_SYNTH_PRIME = 2_147_483_647
_PYSOURCE_REGISTERED: set[int] = set()


def _register_synth_source(spark: SparkSession) -> None:
    """Register the Python DataSource once per session (id-keyed guard)."""
    if id(spark) in _PYSOURCE_REGISTERED:
        return
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    mult, inc, prime = _SYNTH_MULT, _SYNTH_INC, _SYNTH_PRIME

    class SynthReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", _SYNTH_N))
            self.parts = int(options.get("partitions", _SYNTH_PARTS))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            i = partition.value
            lo = i * self.n // self.parts
            hi = (i + 1) * self.n // self.parts
            for eid in range(lo, hi):
                yield (eid, eid % 32, (eid * mult + inc) % prime)

    class SynthEventsDataSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "h3r_synth"

        def schema(self) -> str:
            return "event_id bigint, bucket int, value bigint"

        def reader(self, schema):
            return SynthReader(self.options)

    spark.dataSource.register(SynthEventsDataSource)
    _PYSOURCE_REGISTERED.add(id(spark))


def scan_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — custom source via the Python DataSource API (Spark 4): a
    deterministic synthetic-events generator registered as a first-class
    ``spark.read.format("h3r_synth")`` source — the extension point for
    reading systems Spark has no built-in connector for (internal feed
    formats, bespoke services), exercised here end-to-end through Spark's
    Arrow-batched Python source runner.

    The source is genuinely partitioned: ``partitions()`` splits the id
    range into ``_SYNTH_PARTS`` (4) independent InputPartitions, each
    read by its own task
    (parallelism scales with the option, not the driver). Generated rows
    are pure LCG integer arithmetic, so the relation — grouped here to a
    per-bucket summary — carries a full SQL oracle; arithmetic stays far
    under 2^63 (ANSI-safe)."""
    _register_synth_source(spark)
    df = (
        spark.read.format("h3r_synth")
        .option("n", _SYNTH_N)
        .option("partitions", _SYNTH_PARTS)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.sum("event_id").alias("sum_id"),
        F.max("value").alias("max_value"),
    )


def scan_jdbc_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 — partitioned parallel JDBC ingest: the scale path for pulling
    a warehouse table over JDBC (the reference funnels every resultset
    through ONE beeline connection, ``beeline_functions.sh:103-108``; a
    100 TB-adjacent ingest cannot). ``partitionColumn`` + bounds +
    ``numPartitions`` make Spark issue N range-predicate queries from N
    executor tasks concurrently — each fetches a disjoint ``event_id``
    stripe, so the source database streams in parallel and no single
    fetch holds the whole table.

    The verification is exactness under partitioning: the per-bucket
    aggregate over the 8-way parallel read must equal the same aggregate
    computed on the original table — any duplicated or dropped stripe
    boundary row breaks the parity hash. Bounds are read from the data
    (one tiny agg), not trusted constants; upperBound is max+1 because
    Spark's top stripe is exclusive of nothing but splits at the bound.
    The landing write is single-connection demo scaffolding; the
    partitioned READ is the operator."""
    ensure_engine_confs(spark)
    events = load_table(spark, sf_dir, "events")
    slice_df = events.select("event_id", "user_id", "value")
    jdbc_write(slice_df, "repl_par", "events_par")
    lo, hi = slice_df.agg(F.min("event_id"), F.max("event_id")).first()
    if lo is None:  # empty source: no stripes to read, summary is empty
        from ..util import rows_df

        return rows_df(
            spark,
            "id_bucket bigint, n_rows bigint, sum_users bigint, "
            "sum_value double",
            [],
        )
    out = (
        spark.read.format("jdbc")
        .option("url", _DERBY_URL.format(name="repl_par"))
        .option("dbtable", "events_par")
        .option("driver", _DERBY_DRIVER)
        # Spark quotes the stripe predicates via the Derby dialect, so the
        # case-exact "event_id" column resolves (verified: 8 partitions,
        # exact row parity)
        .option("partitionColumn", "event_id")
        .option("lowerBound", int(lo))
        .option("upperBound", int(hi) + 1)
        .option("numPartitions", 8)
        .load()
    )
    return out.groupBy(
        (F.col("event_id") % 8).alias("id_bucket")
    ).agg(
        F.count("*").alias("n_rows"),
        F.sum("user_id").alias("sum_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 3
        ).alias("sum_value"),
    )


ORACLES: dict[str, str] = {
    "scan_jdbc_partitioned": """
        SELECT event_id % 8 AS id_bucket,
               COUNT(*) AS n_rows,
               CAST(SUM(user_id) AS BIGINT) AS sum_users,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 3)
                   AS sum_value
        FROM events GROUP BY 1
    """,
    "scan_schema_evolution": """
        SELECT event_id, event_type,
               CASE WHEN event_id >= 200 THEN value END AS v2
        FROM events WHERE event_id < 400
    """,
    "scan_xml": """
        SELECT event_id, event_type, value FROM events WHERE event_id < 500
    """,
    "scan_text": """
        -- len(text) > 0: Spark's text source emits ZERO rows for a
        -- zero-byte file (no line terminator, no line), so empty
        -- payloads never surface — mirrored here; see scan_text's
        -- docstring for the ingestion-layer guard this implies
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_line_chars
        FROM documents WHERE doc_id % 7 = 0 AND len(text) > 0
    """,
    "scan_pysource": f"""
        WITH g AS (
            SELECT CAST(range AS BIGINT) AS event_id,
                   CAST(range % 32 AS INTEGER) AS bucket,
                   (range * {_SYNTH_MULT} + {_SYNTH_INC}) % {_SYNTH_PRIME}
                       AS value
            FROM range({_SYNTH_N})
        )
        SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS sum_id,
               CAST(MAX(value) AS BIGINT) AS max_value
        FROM g GROUP BY bucket
    """,
    "scan_binaryfile": """
        -- len(text) > 0: Spark's binaryFile source SKIPS zero-byte
        -- files (an empty file yields no partition, hence no row) —
        -- mirrored here; see scan_binaryfile's docstring
        SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents WHERE doc_id % 7 = 0 AND len(text) > 0
    """,
    "jdbc_source": """
        SELECT event_id, user_id, value FROM events WHERE event_id < 100
    """,
    "jdbc_sink": """
        SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY event_type
    """,
    "scan_parquet": """
        SELECT l_orderkey, l_quantity, l_shipdate FROM lineitem
        WHERE l_shipdate < TIMESTAMP '1995-01-01'
    """,
    "scan_csv": """
        SELECT event_id, user_id, event_type FROM events WHERE event_id < 500
    """,
    "scan_json": """
        SELECT event_id, event_type, value FROM events WHERE event_id < 500
    """,
    "scan_orc": """
        SELECT event_id, user_id, value FROM events WHERE event_id < 500
    """,
    "scan_partitioned": """
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
               event_type, COUNT(*) AS n_events
        FROM events
        WHERE CAST(CAST(ts AS TIMESTAMP) AS DATE) < DATE '2024-01-03'
        GROUP BY 1, 2
    """,
    "scan_zorder": """
        -- the z-ordered layout is semantics-neutral: same aggregate
        -- over the raw table (NULL ts rows form the NULL date group on
        -- both engines; SUM skips NULL values on both)
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DOUBLE)
                   AS sum_value
        FROM events
        WHERE event_type = 'click'
        GROUP BY 1
    """,
    "scan_bucketed": """
        SELECT o_orderpriority,
               COUNT(*) AS n_lines,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderpriority
    """,
    "delimited_parse": """
        WITH lines AS (
            SELECT '| ' || n_name || ' | ' || CAST(n_nationkey AS VARCHAR) || ' |'
                       AS line
            FROM nation
        )
        SELECT TRIM(split_part(line, '|', 2)) AS parsed_name,
               CAST(TRIM(split_part(line, '|', 3)) AS BIGINT) AS parsed_key
        FROM lines
    """,
}

QUERY_FNS = {
    "jdbc_source": jdbc_source,
    "jdbc_sink": jdbc_sink,
    "scan_parquet": scan_parquet,
    "scan_csv": scan_csv,
    "scan_json": scan_json,
    "scan_orc": scan_orc,
    "scan_partitioned": scan_partitioned,
    "scan_zorder": scan_zorder,
    "scan_bucketed": scan_bucketed,
    "scan_binaryfile": scan_binaryfile,
    "scan_pysource": scan_pysource,
    "scan_xml": scan_xml,
    "scan_text": scan_text,
    "scan_schema_evolution": scan_schema_evolution,
    "scan_jdbc_partitioned": scan_jdbc_partitioned,
    "delimited_parse": delimited_parse,
}
