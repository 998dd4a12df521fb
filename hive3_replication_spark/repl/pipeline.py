"""The end-to-end replication driver (SURVEY.md §3: the single entry point
``bash hive3repl.sh <dbname>`` re-expressed).

Flow per run (mirrors ``hive3repl.sh:81-186``):
1. validate args + allowlist;
2. status probe → last_repl_id (NULL sentinel → None);
3. branch: None → bootstrap (Entry B), int → incremental (Entry C);
4. replay at target (with retry for incremental; bootstrap retries are
   forced to 1 per ``hive3repl.sh:99-100``);
5. verify: re-probe status and classify via the 5-way ladder;
6. append a run-log row (the log sink, ``misc_functions.sh:16-18``) and,
   when enabled, export the run-log artifact to the configured upload
   directory (``misc_functions.sh:115-149``; flags ``env.sh:39-41``) — on
   BOTH the success and the failure path, since failed-run triage is the
   reason the upload exists.
"""

from __future__ import annotations

import datetime as dt
import json
import logging
import os

from pyspark.sql import SparkSession

from ..session import ensure_engine_confs
from . import incremental as incr
from . import snapshot as snap
from .model import ReplConfig, classify_repl_status
from .registry import RunLock


def run_all(
    spark: SparkSession,
    cfgs: list[ReplConfig],
    run_dir: str,
    watermark_dir: str,
) -> list[dict]:
    """Replicate every database in the deployment (the reference runs one
    ``hive3repl.sh <db>`` per DBLIST entry, ``env.sh:14``; the engine loops
    them under one session, sharing the JVM and scheduler). Failures in one
    database don't block the rest — each report carries its own status."""
    reports = []
    for cfg in cfgs:
        try:
            reports.append(run_replication(spark, cfg, run_dir, watermark_dir))
        except Exception as exc:  # noqa: BLE001 — per-db isolation
            reports.append(
                {"db_name": cfg.db_name, "status": "error", "error": str(exc)}
            )
    return reports


def export_run_log(cfg: ReplConfig, report: dict) -> str | None:
    """S9 — run-log artifact export (``misc_functions.sh:115-149``,
    ``upload_logs_to_hdfs``; flags ``env.sh:39-41`` HDFS_UPLOAD /
    HDFS_UPLOAD_DIR): copy the run's log artifact to a configured upload
    directory at pipeline end so failed runs can be triaged without shell
    access to the replication host.

    Fidelity notes: the export is FLAG-GATED and defaults off; the upload
    directory must pre-exist (the reference ``hdfs dfs -test -d``s it and
    warn-skips — it never creates it, and neither do we); and upload
    failure never fails the replication run itself (the reference only
    echoes an ERROR line). The artifact is a JSON file — the engine analog
    of the reference's text log file, carrying the run report rather than
    raw log lines. Returns the written path, or None when skipped."""
    if not cfg.log_upload:
        return None
    if not cfg.log_upload_dir or not os.path.isdir(cfg.log_upload_dir):
        logging.warning(
            "run-log upload dir %r does not exist; skipping log upload "
            "(misc_functions.sh:144-146)",
            cfg.log_upload_dir,
        )
        return None
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S_%f")
    # O_EXCL exclusive create with a collision suffix: two concurrent
    # exporters (threads or processes) can land on the SAME microsecond
    # stamp, and plain open('w') would interleave both JSON bodies into
    # one corrupt artifact (round-9 race test finding) — each writer must
    # own its file exclusively.
    path = None
    fd = None
    for attempt in range(100):
        suffix = "" if attempt == 0 else f"-{attempt}"
        candidate = os.path.join(
            cfg.log_upload_dir, f"replog_{cfg.db_name}_{stamp}{suffix}.json"
        )
        try:
            fd = os.open(
                candidate, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o644
            )
            path = candidate
            break
        except FileExistsError:
            continue
        except OSError as exc:  # upload failure must not fail the run
            logging.error(
                "run-log upload to %r failed: %s (misc_functions.sh:140-142)",
                candidate,
                exc,
            )
            return None
    if fd is None or path is None:
        logging.error(
            "run-log upload to %r failed: 100 same-stamp collisions",
            cfg.log_upload_dir,
        )
        return None
    try:
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(report, f, default=str, indent=1)
    except OSError as exc:  # upload failure must not fail the run
        logging.error(
            "run-log upload to %r failed: %s (misc_functions.sh:140-142)",
            path,
            exc,
        )
        return None
    return path


def run_replication(
    spark: SparkSession, cfg: ReplConfig, run_dir: str, watermark_dir: str
) -> dict:
    """One replication run; returns the run report (the engine's version of
    the reference's golden transcript, ``README.md:59-90``)."""
    ensure_engine_confs(spark)
    cfg.validate()
    started = dt.datetime.now(dt.timezone.utc)

    # per-db instance lock for the WHOLE run (hive3repl.sh:67-70): two
    # concurrent runs on one db would race on the state dir overwrite and
    # the watermark append — bootstrap's dump.lock alone doesn't cover the
    # incremental path. The lock lives under the CONTENDED resource
    # (repl_root), not the caller's run_dir, so runs launched with different
    # run_dir flags still exclude each other.
    try:
        with RunLock(f"{cfg.repl_root}/_locks", f"instance_{cfg.db_name}"):
            report = _run_locked(spark, cfg, run_dir, watermark_dir, started)
    except Exception as exc:
        # failure-path export: the triage artifact matters MOST here
        export_run_log(
            cfg,
            {
                "db_name": cfg.db_name,
                "status": "error",
                "error": str(exc),
                "started": started.isoformat(),
                "finished": dt.datetime.now(dt.timezone.utc).isoformat(),
            },
        )
        raise
    export_run_log(cfg, report)
    return report


def _run_locked(
    spark: SparkSession,
    cfg: ReplConfig,
    run_dir: str,
    watermark_dir: str,
    started: dt.datetime,
) -> dict:
    last_repl_id = snap.repl_status(spark, watermark_dir, cfg.db_name)
    synced: list[str] = []
    dropped: list[str] = []

    if last_repl_id is None:
        # Entry B — bootstrap; retries forced to 1 (hive3repl.sh:99-100)
        dump = snap.bootstrap_dump(spark, cfg, run_dir)
        if dump["dump_txid"] <= 0:  # guard hive3repl.sh:96
            raise RuntimeError("bootstrap dump returned no transactions")
        snap.bootstrap_load(spark, cfg, dump["dump_path"], watermark_dir)
        mode = "bootstrap"
        dump_txid = dump["dump_txid"]
        attempts, n_events = 1, None
    else:
        # Entry C — incremental with retry (beeline_functions.sh:211-236)
        dump = incr.incremental_dump(spark, cfg, last_repl_id)
        dump_txid = dump["dump_txid"]
        mode = "incremental"
        attempts, n_events = 0, dump["n_events"]
        if dump["dump_path"] is not None:

            def count(attempt: int, ok: bool) -> None:
                nonlocal attempts
                attempts = attempt

            incr.with_retry(
                lambda attempt: incr.apply_events(
                    spark, cfg, dump["dump_path"], watermark_dir, last_repl_id
                ),
                max_attempts=cfg.incr_rerun,
                sleep_s=cfg.rerun_sleep_s,
                on_attempt=count,
            )
        # distcp -update analog: re-copy only static tables whose payload
        # fingerprint changed since the last run (SURVEY.md §4 row 6)
        synced = snap.sync_static_tables(spark, cfg)
        # DDL drop replay: tables dropped at source disappear at target
        # (README.md:38 — incremental events carry DDL)
        dropped = snap.drop_removed_tables(cfg)

    post_load_id = snap.repl_status(spark, watermark_dir, cfg.db_name)
    status = classify_repl_status(dump_txid, last_repl_id, post_load_id)
    finished = dt.datetime.now(dt.timezone.utc)
    return {
        "db_name": cfg.db_name,
        "mode": mode,
        "last_repl_id": last_repl_id,
        "dump_txid": dump_txid,
        "post_load_id": post_load_id,
        "status": status,
        "attempts": attempts,
        "n_events": n_events,
        "tables_synced": synced if mode == "incremental" else None,
        "tables_dropped": dropped if mode == "incremental" else None,
        "duration_s": (finished - started).total_seconds(),
    }
