"""Incremental replication: watermark dump, ordered idempotent replay,
retry (SURVEY.md §3.3, the reference's core competency).

Reference flow: ``repl dump <db> from <last_repl_id>`` extracts the event
range (id, current] (``HQL/repldump.hql:3``); the target replays the events
in order (``README.md:43-44``) with ≤ INCR_RERUN retries 60 s apart
(``beeline_functions.sh:211-236``; ``env.sh:24-26``).

Engine design (SURVEY.md §7 risk 1 — the hard part):
- **Ordered apply without a global sort**: replay semantics here are
  last-writer-wins per key with delete events; that is an argmax per key —
  commutative across partitions — so the "ordering" is enforced by the
  max(event_id) comparison, not by physically sorting 100 TB of events.
- **Idempotency**: the applier filters ``event_id > current_wm`` *inside*
  the apply and merges by key; replaying a batch twice is a no-op.
- **Commit protocol**: new state version dir → watermark append (the
  watermark is the commit pointer; a crash between the two leaves the old
  watermark and the rerun rebuilds the same version dir deterministically).
"""

from __future__ import annotations

import datetime as dt
import time
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load_table, read_parquet
from ..session import ensure_engine_confs
from .model import MANIFEST_SCHEMA, ReplConfig
from .snapshot import (
    EVENTS_TABLE,
    MANIFEST_FILE,
    advance_watermark,
    parquet_int64_max,
    parquet_row_count,
    read_manifest_row,
    write_control_row,
)

#: Event types that delete the key's state on replay (DDL DROP analog).
DELETE_TYPES = ("error",)

STATE_TABLE = "user_state"

#: The state versions' schema. The engine writes every version itself,
#: so reads take it from here instead of inferring it.
STATE_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType(), True),
    T.StructField("last_event_id", T.LongType(), True),
    T.StructField("state_value", T.DoubleType(), True),
])


def incremental_dump(
    spark: SparkSession, cfg: ReplConfig, from_txid: int
) -> dict:
    """T1 — dump only events with id > from_txid (``HQL/repldump.hql:3``).
    The range predicate is pushed into the parquet scan; with the events
    table partitioned by id-range/date this is O(delta) I/O."""
    ensure_engine_confs(spark)
    cfg.validate()
    events = load_table(spark, cfg.source_root, EVENTS_TABLE)
    delta = events.filter(F.col("event_id") > F.lit(from_txid))
    # The dump cut id comes from parquet row-group int64 statistics when
    # available (footer-only, exact — the bootstrap_dump discipline,
    # optimization round 15): the global max IS the delta max whenever it
    # exceeds from_txid, and a global max at-or-below from_txid means an
    # empty delta. Payloads without stats fall back to the Spark job.
    dump_txid: int | None = None
    try:
        dump_txid = parquet_int64_max(
            f"{cfg.source_root}/{EVENTS_TABLE}.parquet", "event_id"
        )
    except OSError:  # remote/unlistable source — Spark path below
        dump_txid = None
    if dump_txid is None:
        dump_txid = delta.agg(F.max("event_id")).collect()[0][0]
    elif dump_txid <= from_txid:
        dump_txid = None
    if dump_txid is None:
        return {"dump_path": None, "dump_txid": from_txid, "n_events": 0}
    dump_path = str(
        Path(cfg.repl_root) / cfg.db_name / f"incr_{from_txid}_{dump_txid}"
    )
    # O2 replay ordering: sort within partitions by event_id so each dump
    # file is internally replay-ordered (a full global sort is unnecessary —
    # the merge is an argmax — but ordered files make replay streaming-
    # friendly and splittable)
    delta.sortWithinPartitions("event_id").write.mode("overwrite").parquet(
        f"{dump_path}/{EVENTS_TABLE}"
    )
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    write_control_row(
        spark, f"{dump_path}/{MANIFEST_FILE}", MANIFEST_SCHEMA,
        (cfg.db_name, dump_path, int(dump_txid), False, now), append=False,
    )
    return {
        "dump_path": dump_path,
        "dump_txid": int(dump_txid),
        "n_events": parquet_row_count(f"{dump_path}/{EVENTS_TABLE}"),
    }


def _state_dir(cfg: ReplConfig, version: int) -> str:
    return f"{cfg.target_root}/{STATE_TABLE}_v{version}"


def _as_state_rows(events: DataFrame) -> DataFrame:
    """Events as pseudo-state rows: the merge's input shape, cast to
    ``STATE_SCHEMA`` (no-op casts for the int64/double event columns)."""
    return events.select(
        *(
            F.col(src).cast(f.dataType).alias(f.name)
            for src, f in zip(("user_id", "event_id", "value"), STATE_SCHEMA)
        ),
        F.col("event_type").isin(*DELETE_TYPES).alias("is_delete"),
    )


def _merge(rows: DataFrame) -> DataFrame:
    """Last writer wins per key: argmax by event id, then drop deleted
    keys. One shuffle on user_id."""
    latest = rows.groupBy("user_id").agg(
        F.max_by(
            F.struct("last_event_id", "state_value", "is_delete"),
            "last_event_id",
        ).alias("s")
    )
    return latest.filter(~F.col("s.is_delete")).select(
        "user_id",
        F.col("s.last_event_id").alias("last_event_id"),
        F.col("s.state_value").alias("state_value"),
    )


def read_state(
    spark: SparkSession, cfg: ReplConfig, version: int | None
) -> DataFrame:
    """Current replicated state at ``version``.

    ``bootstrap_load`` materializes the first version, so a target has a
    state version at every watermark. A target bootstrapped before that
    has none at its cut: its state is then derived from the bootstrapped
    events table, as ``write_state`` derives it.
    """
    if version is None:
        return spark.createDataFrame([], STATE_SCHEMA)
    if Path(_state_dir(cfg, version)).exists():
        return spark.read.schema(STATE_SCHEMA).parquet(_state_dir(cfg, version))
    return _replayed_state(spark, cfg, version)


def _replayed_state(
    spark: SparkSession, cfg: ReplConfig, version: int
) -> DataFrame:
    """The state at ``version`` replayed from the target's bootstrapped
    events table (every event ≤ version); empty without one."""
    boot_events = f"{cfg.target_root}/{EVENTS_TABLE}"
    if not Path(boot_events).exists():
        return spark.createDataFrame([], STATE_SCHEMA)
    ev = read_parquet(spark, boot_events).filter(
        F.col("event_id") <= F.lit(version)
    )
    return _merge(_as_state_rows(ev))


def write_state(spark: SparkSession, cfg: ReplConfig, version: int) -> None:
    """Materialize the bootstrapped state at ``version`` as
    ``user_state_v{version}``. Always a replay of the events, never a
    copy of an existing version, so a rerun after a crash rewrites the
    same rows."""
    _replayed_state(spark, cfg, version).write.mode("overwrite").parquet(
        _state_dir(cfg, version)
    )


def apply_events(
    spark: SparkSession,
    cfg: ReplConfig,
    dump_path: str,
    watermark_dir: str,
    current_wm: int | None,
) -> dict:
    """T2/T3 — ordered, idempotent replay of a dump onto the target state.

    Merge = union(previous state as pseudo-events, new events) → argmax by
    event_id per key → drop deleted keys. One shuffle on user_id; replaying
    the same dump twice yields the byte-identical state version (tests
    assert this).
    """
    ensure_engine_confs(spark)
    dump_txid = read_manifest_row(spark, dump_path)["dump_txid"]
    wm = current_wm if current_wm is not None else -1

    new_events = _as_state_rows(
        read_parquet(spark, f"{dump_path}/{EVENTS_TABLE}")
        # idempotency guard: never re-apply at-or-below the watermark
        .filter(F.col("event_id") > F.lit(wm))
    )
    prev = read_state(spark, cfg, current_wm).withColumn(
        "is_delete", F.lit(False)
    )
    new_state = _merge(prev.unionByName(new_events))
    new_state.write.mode("overwrite").parquet(_state_dir(cfg, dump_txid))
    # watermark append = commit (README.md:34-46 contract)
    advance_watermark(spark, watermark_dir, cfg.db_name, dump_txid)
    return {"new_wm": int(dump_txid), "state_dir": _state_dir(cfg, dump_txid)}


def with_retry(
    fn: Callable[[int], object],
    max_attempts: int = 3,
    sleep_s: float = 0.0,
    on_attempt: Callable[[int, bool], None] | None = None,
) -> object:
    """T4 — retry wrapper (``beeline_functions.sh:211-236``: up to
    INCR_RERUN attempts, RERUN_SLEEP apart). ``fn`` receives the attempt
    number (1-based) and must be idempotent — which apply_events guarantees
    via its watermark filter."""
    last_exc: Exception | None = None
    for attempt in range(1, max_attempts + 1):
        try:
            result = fn(attempt)
        except Exception as exc:  # noqa: BLE001 — retrying any task failure
            last_exc = exc
            if on_attempt:
                on_attempt(attempt, False)
            if attempt < max_attempts:
                time.sleep(sleep_s)
            continue
        if on_attempt:
            on_attempt(attempt, True)
        return result
    raise RuntimeError(
        f"failed after {max_attempts} attempts (beeline_functions.sh:232-235)"
    ) from last_exc
