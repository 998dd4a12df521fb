"""Genuine Structured Streaming pipelines (SURVEY.md §2.9 engine mapping).

The reference is run-per-invocation batch over a change stream; the natural
Spark fit is Structured Streaming with the ``availableNow`` trigger
(SURVEY.md §3.3 engine mapping): each invocation drains everything new and
stops, checkpoint offsets play the role of ``last_repl_id``.

These pipelines are exercised by tests/test_streaming.py, which assert the
streaming results equal their batch counterparts in batch_ops.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..session import ensure_engine_confs


def _event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (schema taken from a batch read;
    ns-ts normalized exactly like the batch path)."""
    ensure_engine_confs(spark)
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the file-stream source wants a directory; select the events file(s)
    # from the table dir by glob (works for single-file fixtures and real
    # multi-file event logs alike)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark requires TIMESTAMP (with tz); session tz is pinned to
        # UTC so the cast preserves wall-clock values and stays batch-equal.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def run_tumbling_stream(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str, gap: str = "1 day"
) -> DataFrame:
    """T6 as a real stream: watermarked tumbling counts per event_type,
    drained with availableNow into a memory sink. Late rows (>1h behind the
    max event time seen in prior batches) are dropped by the watermark —
    T9's streaming form."""
    stream = _event_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", gap).alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )
    query = (
        agg.writeStream.format("memory")
        .queryName("h3r_tumbling")
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(120):
        raise TimeoutError(f"stream {query.name} did not drain within 120s")
    return spark.sql("SELECT * FROM h3r_tumbling")


def run_dedup_stream(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """T12 as a real stream: ``dropDuplicates`` on the dedup key over
    ``readStream`` — the state store keeps one entry per key and forwards
    only first arrivals. Which physical row represents a key within one
    micro-batch is engine-chosen, so the batch-equality contract (tested)
    is on the KEY SET; the batch form (``stream_dedup``) additionally
    pins values via min_by, which is the deterministic surface."""
    stream = _event_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type", "event_id").dropDuplicates(
        ["user_id", "event_type"]
    )
    query = (
        deduped.writeStream.format("memory")
        .queryName("h3r_stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(120):
        raise TimeoutError(f"stream {query.name} did not drain within 120s")
    return spark.sql("SELECT * FROM h3r_stream_dedup")


def run_stream_stream_join(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """T13 as a real stream: purchases joined to same-user clicks from the
    preceding 2 hours — a genuine stream-stream interval join. Both sides
    carry watermarks (Spark's bounded-state requirement): the state store
    keeps a click only until watermark passes click_ts + 2h + lateness,
    so state is O(interval x rate), never O(history). Inner join in
    append mode; pair-set equality with the batch twin
    (batch_ops.stream_stream_join) is asserted in tests."""
    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            "user_id = c_user AND c_ts <= p_ts"
            " AND c_ts >= p_ts - INTERVAL 2 HOURS"
        ),
    ).select("user_id", "purchase_id", "click_id")
    query = (
        joined.writeStream.format("memory")
        .queryName("h3r_ssjoin")
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(120):
        raise TimeoutError(f"stream {query.name} did not drain within 120s")
    return spark.sql("SELECT * FROM h3r_ssjoin")


def run_file_sink_stream(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str, out_dir: str
) -> DataFrame:
    """The production landing-zone pattern: readStream → append-mode
    parquet FILE sink with checkpointed offsets. The file sink's
    _spark_metadata transaction log makes output files exactly-once: a
    re-run against the same checkpoint (crash recovery, scheduler retry)
    drains zero new offsets and appends nothing, so downstream batch
    readers never see duplicates — asserted by the restart test. Returns
    the read-back relation."""
    stream = _event_stream(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value"
    )
    query = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(120):
        raise TimeoutError(f"stream {query.name} did not drain within 120s")
    return spark.read.parquet(out_dir)


def run_replay_stream(
    spark: SparkSession,
    sf_dir: str,
    checkpoint_dir: str,
    state_dir: str,
) -> DataFrame:
    """T2/T3 as a real stream: foreachBatch ordered apply with the same
    last-writer-wins/delete merge as repl/incremental.apply_events, state
    persisted per batch, offsets checkpointed (exactly-once bookkeeping —
    a batch retry re-merges idempotently)."""
    from ..repl.incremental import DELETE_TYPES

    stream = _event_stream(spark, sf_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        new = batch_df.select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("state_value"),
            F.col("event_type").isin(*DELETE_TYPES).alias("is_delete"),
        )
        try:
            prev = sess.read.parquet(state_dir).withColumn(
                "is_delete", F.lit(False)
            )
            merged = prev.unionByName(new)
        except Exception:  # first batch — no state yet
            merged = new
        latest = merged.groupBy("user_id").agg(
            F.max_by(
                F.struct("last_event_id", "state_value", "is_delete"),
                "last_event_id",
            ).alias("s")
        )
        out = (
            latest.filter(~F.col("s.is_delete"))
            .select(
                "user_id",
                F.col("s.last_event_id").alias("last_event_id"),
                F.col("s.state_value").alias("state_value"),
            )
        )
        # stage-then-promote: never read and overwrite the same dir in one job
        staged = cache.checkpoint(out)
        staged.write.mode("overwrite").parquet(state_dir)
        cache.release(staged)

    query = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(180):
        raise TimeoutError(f"stream {query.name} did not drain within 180s")
    return spark.read.parquet(state_dir)
