"""Structured Streaming pipelines must agree with their batch counterparts
(SURVEY.md §2.9): tumbling windowed counts and the foreachBatch replay."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hive3_replication_spark.streaming.batch_ops import stream_tumbling
from hive3_replication_spark.streaming.structured import (
    run_replay_stream,
    run_tumbling_stream,
)
from tests.conftest import SF_DIR


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    streamed = run_tumbling_stream(
        spark, SF_DIR, str(tmp_path / "ckpt")
    ).toPandas()
    batch = stream_tumbling(spark, SF_DIR).toPandas()
    key = ["win_start", "event_type"]
    a = streamed.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    # in-order drain → watermark drops nothing → exact agreement
    assert a[key + ["n_events"]].equals(b[key + ["n_events"]])


def test_streaming_dedup_matches_batch_keyset(spark, tmp_path):
    """dropDuplicates over the stream must emit exactly one row per key,
    and the key set must equal the batch dedup operator's."""
    from hive3_replication_spark.streaming.batch_ops import stream_dedup
    from hive3_replication_spark.streaming.structured import run_dedup_stream

    streamed = run_dedup_stream(spark, SF_DIR, str(tmp_path / "ckpt")).toPandas()
    batch = stream_dedup(spark, SF_DIR).toPandas()
    assert len(streamed) == len(batch)
    skeys = set(map(tuple, streamed[["user_id", "event_type"]].values))
    bkeys = set(map(tuple, batch[["user_id", "event_type"]].values))
    assert skeys == bkeys


def test_streaming_jdbc_sink_exactly_once(spark, tmp_path):
    """Stream → JDBC warehouse with batch-id bookkeeping: a second drain
    over the same checkpoint must not double-write."""
    from hive3_replication_spark.streaming.jdbc_sink import run_jdbc_stream

    out1 = run_jdbc_stream(spark, SF_DIR, str(tmp_path / "ck")).toPandas()
    # warehouse counts equal the batch ground truth
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    expected = (
        ev.groupBy("event_type").count().toPandas().set_index("event_type")["count"]
    )
    got = out1.groupby("event_type")["n_events"].sum()
    assert got.to_dict() == expected.to_dict()
    # re-drain with the same checkpoint: no new batches, no duplicates
    out2 = run_jdbc_stream(spark, SF_DIR, str(tmp_path / "ck")).toPandas()
    assert len(out2) == len(out1)
    assert out2.groupby("event_type")["n_events"].sum().to_dict() == expected.to_dict()


def test_streaming_replay_matches_batch(spark, tmp_path):
    state = run_replay_stream(
        spark,
        SF_DIR,
        str(tmp_path / "ckpt"),
        str(tmp_path / "state"),
    )
    got = sorted(map(tuple, state.collect()))

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    expected = sorted(
        map(
            tuple,
            ev.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .filter("event_type <> 'error'")
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("state_value"),
            )
            .collect(),
        )
    )
    assert got == expected


def test_streaming_file_sink_exactly_once(spark, tmp_path):
    """File-sink landing zone: the drained output must equal the batch
    events keyset, and a SECOND run against the same checkpoint (crash
    recovery / scheduler retry) must append NOTHING — the _spark_metadata
    transaction log is what makes downstream batch readers duplicate-free."""
    from hive3_replication_spark.streaming.structured import (
        run_file_sink_stream,
    )

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "landing")
    got = run_file_sink_stream(spark, SF_DIR, ckpt, out)
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    assert got.count() == batch.count()
    assert (
        got.agg(F.sum("event_id")).collect()[0][0]
        == batch.agg(F.sum("event_id")).collect()[0][0]
    )
    again = run_file_sink_stream(spark, SF_DIR, ckpt, out)
    assert again.count() == batch.count(), "re-run appended duplicates"


def test_streaming_stream_stream_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream interval join must emit exactly the
    batch twin's (purchase, click) pair set: the fixture drains in order,
    so the watermark evicts no still-needed click state."""
    from hive3_replication_spark.streaming.batch_ops import stream_stream_join
    from hive3_replication_spark.streaming.structured import (
        run_stream_stream_join,
    )

    streamed = run_stream_stream_join(
        spark, SF_DIR, str(tmp_path / "ckpt")
    ).toPandas()
    batch = stream_stream_join(spark, SF_DIR).toPandas()
    spairs = set(map(tuple, streamed[["purchase_id", "click_id"]].values))
    bpairs = set(map(tuple, batch[["purchase_id", "click_id"]].values))
    assert spairs == bpairs
    assert len(streamed) == len(batch)


def test_streaming_kill_and_resume(spark, tmp_path):
    """Crash recovery MID-stream (VERDICT r4 item 6 — the reference's
    reason for INCR_RERUN, env.sh:24-26): a file-sink query is stopped
    after at least one committed micro-batch but before draining all 16
    input files, then restarted from the same checkpoint. The resumed run
    must land exactly the remaining data: the final sink equals the
    uninterrupted batch result row-for-row, with no duplicates and no
    loss, because the checkpoint's offset log and the sink's
    _spark_metadata transaction log fence every batch."""
    import os
    import time

    import numpy as np

    batch = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type"
    )
    total = batch.count()
    expected_sum = batch.agg(F.sum("event_id")).collect()[0][0]
    src = str(tmp_path / "src")
    os.makedirs(src)
    pdf = batch.toPandas().sort_values("event_id").reset_index(drop=True)
    # iloc slicing, not np.array_split(DataFrame): the latter routes
    # through the deprecated DataFrame.swapaxes (FutureWarning on pandas 2)
    bounds = np.linspace(0, len(pdf), 17, dtype=int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pdf.iloc[lo:hi].to_parquet(f"{src}/ev_{i:02d}.parquet", index=False)
    schema = spark.read.parquet(f"{src}/ev_00.parquet").schema
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "landing")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    # run 1: kill as soon as the first micro-batch has committed — with 16
    # one-file batches the drain takes seconds, so the stop lands mid-run
    query = start()
    deadline = time.time() + 60
    while not query.recentProgress and query.isActive:
        assert time.time() < deadline, "first batch never committed"
        time.sleep(0.05)
    query.stop()
    query.awaitTermination(60)

    # run 2: resume from the same checkpoint; availableNow drains the rest
    resumed = start()
    assert resumed.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == total, "resume lost or duplicated rows"
    assert final.select("event_id").distinct().count() == total
    assert final.agg(F.sum("event_id")).collect()[0][0] == expected_sum


def test_stateful_progress_null_valued_max_event_locf(spark, tmp_path):
    """Round-13 fuzz find: when the MAX-event_id row carries a NULL
    value, last_value must be the LAST OBSERVED (non-NULL) value — the
    LOCF contract DuckDB's arg_max implements by skipping NULL values —
    and a user whose every event is NULL-valued must surface last_value
    NULL (the in-state NaN sentinel mapped back at the relational
    boundary), while max_event_id still advances through NULL rows."""
    import pandas as pd

    from hive3_replication_spark.streaming.batch_ops import (
        stream_stateful_progress,
    )

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4, 5, 6],
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(6), unit="min"),
            "user_id": [1, 1, 1, 2, 2, 1],
            "event_type": ["click"] * 6,
            "value": [10.0, None, 7.5, None, None, None],
            "props": ["{}"] * 6,
        }
    )
    out = str(tmp_path / "locf")
    staged = str(tmp_path / "staged")
    spark.createDataFrame(
        pdf,
        schema=(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        ),
    ).coalesce(1).write.parquet(staged)
    # the file-stream source globs for a FILE named events.parquet
    import glob as _glob
    import shutil as _shutil

    (tmp_path / "locf").mkdir()
    _shutil.copy(
        _glob.glob(f"{staged}/part-*.parquet")[0], f"{out}/events.parquet"
    )
    rows = {
        r["user_id"]: r for r in stream_stateful_progress(spark, out).collect()
    }
    # user 1: max event_id 6 is NULL-valued -> last observed is id 3
    assert rows[1]["max_event_id"] == 6
    assert rows[1]["last_value"] == 7.5
    assert rows[1]["n_events"] == 4
    # user 2: every value NULL -> SQL NULL, never NaN
    assert rows[2]["max_event_id"] == 5
    assert rows[2]["last_value"] is None
