"""E2E replication pipeline tests — the automated form of the reference's
manual test procedure (``ManualSteps.md:15-33``; SURVEY.md §5):

create db → bootstrap → verify rows → insert more → incremental → verify
watermark advance → no-op rerun → idempotent re-apply → divergence ladder
branches → locks → retry.
"""

from __future__ import annotations

import glob
import shutil
from pathlib import Path

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hive3_replication_spark.repl import incremental as incr
from hive3_replication_spark.repl.model import (
    STATUS_LOAD_FAILED,
    STATUS_NO_PROGRESS,
    STATUS_PARTIAL_LOAD,
    STATUS_SUCCESS,
    STATUS_TARGET_AHEAD,
    ReplConfig,
    classify_repl_status,
)
from hive3_replication_spark.repl.pipeline import run_replication
from hive3_replication_spark.repl.registry import LockHeldError, RunLock
from tests.conftest import SF_DIR


@pytest.fixture()
def repl_env(spark, tmp_path):
    """Source db = fixture tables with the last 100 events held back."""
    src = tmp_path / "source"
    src.mkdir()
    for p in glob.glob(f"{SF_DIR}/*.parquet"):
        name = Path(p).stem
        if name != "events":
            shutil.copy(p, src / f"{name}.parquet")
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    max_id = ev.agg(F.max("event_id")).collect()[0][0]
    cut = max_id - 100
    ev.filter(F.col("event_id") <= cut).write.parquet(
        str(src / "events.parquet")
    )
    cfg = ReplConfig(
        db_name="repltest",
        source_root=str(src),
        target_root=str(tmp_path / "target"),
        repl_root=str(tmp_path / "repl"),
        db_allowlist=("repltest",),
    )
    return cfg, str(tmp_path / "run"), str(tmp_path / "wm"), ev, cut, max_id


def test_bootstrap_then_incremental(spark, repl_env):
    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env

    r1 = run_replication(spark, cfg, run_dir, wm_dir)
    assert r1["mode"] == "bootstrap"
    assert r1["status"] == STATUS_SUCCESS
    assert r1["post_load_id"] == cut
    # rows replicated (ManualSteps.md:25)
    for t in ("lineitem", "orders", "nation"):
        src_n = spark.read.parquet(f"{cfg.source_root}/{t}.parquet").count()
        tgt_n = spark.read.parquet(f"{cfg.target_root}/{t}").count()
        assert src_n == tgt_n, t

    # views replicated as metadata and queryable at the target (README.md:4)
    v = spark.sql("SELECT * FROM repltest_v_event_counts")
    src_counts = (
        spark.read.parquet(f"{cfg.source_root}/events.parquet")
        .groupBy("event_type")
        .count()
    )
    assert {
        (r["event_type"], r["n_events"]) for r in v.collect()
    } == {(r["event_type"], r["count"]) for r in src_counts.collect()}

    # insert more rows (ManualSteps.md:26) then incremental
    ev.filter(F.col("event_id") > cut).write.mode("append").parquet(
        f"{cfg.source_root}/events.parquet"
    )
    r2 = run_replication(spark, cfg, run_dir, wm_dir)
    assert r2["mode"] == "incremental"
    assert r2["status"] == STATUS_SUCCESS
    assert r2["post_load_id"] == max_id

    # no-op rerun: watermark unchanged, still success
    r3 = run_replication(spark, cfg, run_dir, wm_dir)
    assert r3["status"] == STATUS_SUCCESS
    assert r3["post_load_id"] == max_id

    # idempotent re-apply of the same dump (SURVEY.md §7 risk 1)
    dump_path = f"{cfg.repl_root}/repltest/incr_{cut}_{max_id}"
    before = sorted(
        map(tuple, spark.read.parquet(f"{cfg.target_root}/user_state_v{max_id}").collect())
    )
    incr.apply_events(spark, cfg, dump_path, wm_dir, cut)
    after = sorted(
        map(tuple, spark.read.parquet(f"{cfg.target_root}/user_state_v{max_id}").collect())
    )
    assert before == after

    # replayed state == batch last-writer-wins semantics
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    expected = sorted(
        map(
            tuple,
            (
                ev.withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .filter("event_type <> 'error'")
                .select(
                    "user_id",
                    F.col("event_id").alias("last_event_id"),
                    F.col("value").alias("state_value"),
                )
                .collect()
            ),
        )
    )
    assert expected == after


def test_partial_bootstrap_rerun_converges(spark, repl_env):
    """The reference's open bug (TODO.md): a partially loaded bootstrap
    'requires a cleanup of the partially loaded database'
    (hive3repl.sh:110-112). The engine's contract: watermark advances only
    after a complete load, and loads are idempotent overwrites — so a crash
    mid-load (simulated: some tables copied, no watermark) converges on
    rerun with no manual cleanup."""
    import shutil

    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    from hive3_replication_spark.repl import snapshot as snap

    dump = snap.bootstrap_dump(spark, cfg, run_dir)
    # simulate a crash midway through the load: two tables made it, the
    # watermark write never happened
    for t in ("nation", "region"):
        snap._fs_copy(
            spark, f"{dump['dump_path']}/{t}", f"{cfg.target_root}/{t}"
        )
    assert snap.repl_status(spark, wm_dir, cfg.db_name) is None

    # rerun from the top: status NULL → full bootstrap again → success
    report = run_replication(spark, cfg, run_dir, wm_dir)
    assert report["mode"] == "bootstrap"
    assert report["status"] == STATUS_SUCCESS
    for t in ("nation", "lineitem", "orders"):
        src_n = spark.read.parquet(f"{cfg.source_root}/{t}.parquet").count()
        assert spark.read.parquet(f"{cfg.target_root}/{t}").count() == src_n


def test_run_all_isolates_failures(spark, repl_env):
    """Multi-db orchestration: a bad database errors without blocking the
    good one (per-db isolation, env.sh:14 DBLIST loop)."""
    from hive3_replication_spark.repl.pipeline import run_all

    cfg, run_dir, wm_dir, *_ = repl_env
    bad = ReplConfig(
        db_name="ghost",
        source_root=str(Path(cfg.source_root).parent / "missing"),
        target_root=cfg.target_root,
        repl_root=cfg.repl_root,
    )
    reports = run_all(spark, [bad, cfg], run_dir, wm_dir)
    assert reports[0]["db_name"] == "ghost"
    assert reports[0]["status"] == "error"
    assert reports[1]["db_name"] == "repltest"
    assert reports[1]["status"] == STATUS_SUCCESS


def test_classification_ladder_exhaustive():
    """Every branch of hive3repl.sh:106-120,155-169 (SURVEY.md §7 risk 2)."""
    assert classify_repl_status(100, 90, 100) == STATUS_SUCCESS
    assert classify_repl_status(100, 90, None) == STATUS_LOAD_FAILED
    assert classify_repl_status(100, None, None) == STATUS_LOAD_FAILED
    assert classify_repl_status(100, 90, 90) == STATUS_NO_PROGRESS
    assert classify_repl_status(100, 90, 95) == STATUS_PARTIAL_LOAD
    assert classify_repl_status(100, 90, 110) == STATUS_TARGET_AHEAD
    # bootstrap (no last_repl_id): behind/ahead still classify
    assert classify_repl_status(100, None, 95) == STATUS_PARTIAL_LOAD
    assert classify_repl_status(100, None, 110) == STATUS_TARGET_AHEAD
    assert classify_repl_status(100, None, 100) == STATUS_SUCCESS


def test_allowlist_validation():
    cfg = ReplConfig(
        db_name="evil",
        source_root="/tmp/x",
        target_root="/tmp/y",
        repl_root="/tmp/z",
        db_allowlist=("repltest",),
    )
    with pytest.raises(ValueError, match="allowlist"):
        cfg.validate()


def test_run_lock(tmp_path):
    with RunLock(tmp_path, "dump"):
        with pytest.raises(LockHeldError):
            RunLock(tmp_path, "dump").acquire()
    # released → can reacquire
    with RunLock(tmp_path, "dump"):
        pass


def test_stale_lock_takeover(tmp_path):
    lock = RunLock(tmp_path, "dump")
    lock.path.mkdir(parents=True)
    (lock.path / "pid").write_text("999999999")  # dead pid
    with RunLock(tmp_path, "dump"):  # takes over (misc_functions.sh:168-180)
        pass


def test_retry_exhaustion():
    calls: list[int] = []

    def always_fail(attempt: int) -> None:
        calls.append(attempt)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="after 3 attempts"):
        incr.with_retry(always_fail, max_attempts=3, sleep_s=0.0)
    assert calls == [1, 2, 3]


def test_ddl_replay_table_create_and_drop(spark, repl_env):
    """DDL replay parity (README.md:38 — incremental dumps carry DDL):
    a table created at the source after bootstrap appears at the target on
    the next incremental run; a table dropped at the source disappears.
    State versions, watermarks, and the events transport are never touched."""
    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    run_replication(spark, cfg, run_dir, wm_dir)  # bootstrap

    # DROP at source: remove part; CREATE at source is modeled by the
    # fingerprint-diff sync (covered in test_copy_skip) — here we verify
    # the drop side plus that a modified table still syncs.
    (Path(cfg.source_root) / "part.parquet").unlink()
    ev.filter(F.col("event_id") > cut).write.mode("append").parquet(
        f"{cfg.source_root}/events.parquet"
    )
    r2 = run_replication(spark, cfg, run_dir, wm_dir)
    assert r2["mode"] == "incremental"
    assert r2["status"] == STATUS_SUCCESS
    assert r2["tables_dropped"] == ["part"]
    assert not (Path(cfg.target_root) / "part").exists()
    # transport + state versions untouched
    assert (Path(cfg.target_root) / "events").exists()
    assert (Path(cfg.target_root) / f"user_state_v{max_id}").exists()

    # a further no-op incremental drops nothing more
    r3 = run_replication(spark, cfg, run_dir, wm_dir)
    assert r3["tables_dropped"] == []


def test_run_log_export_success_failure_and_gating(spark, repl_env, tmp_path):
    """S9 run-log upload (misc_functions.sh:115-149, flags env.sh:39-41):
    artifacts must land on BOTH the success and the failure path when the
    flag is on and the dir exists; a missing upload dir warn-skips without
    failing the run (the reference never creates it); flag off → nothing."""
    import dataclasses
    import json as _json

    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    up = tmp_path / "uploads"
    up.mkdir()

    # flag off (default): no artifact
    report = run_replication(spark, cfg, run_dir, wm_dir)
    assert report["status"] == STATUS_SUCCESS
    assert list(up.glob("replog_*")) == []

    # success path with flag on
    cfg_on = dataclasses.replace(
        cfg, log_upload=True, log_upload_dir=str(up)
    )
    report = run_replication(spark, cfg_on, run_dir, wm_dir)
    arts = sorted(up.glob("replog_repltest_*.json"))
    assert len(arts) == 1
    logged = _json.loads(arts[0].read_text())
    assert logged["status"] == report["status"]
    assert logged["db_name"] == "repltest"

    # failure path: break the source root so the run raises — the artifact
    # must still land, carrying the error
    cfg_bad = dataclasses.replace(
        cfg_on, source_root=str(tmp_path / "nonexistent_source")
    )
    with pytest.raises(Exception):
        run_replication(spark, cfg_bad, run_dir, wm_dir)
    arts = sorted(up.glob("replog_repltest_*.json"))
    assert len(arts) == 2
    failed = _json.loads(arts[-1].read_text())
    assert failed["status"] == "error" and failed["error"]

    # missing upload dir: warn-skip, run still succeeds
    cfg_missing = dataclasses.replace(
        cfg, log_upload=True, log_upload_dir=str(tmp_path / "no_such_dir")
    )
    report = run_replication(spark, cfg_missing, run_dir, wm_dir)
    assert report["status"] in (STATUS_SUCCESS, STATUS_NO_PROGRESS)
    assert not (tmp_path / "no_such_dir").exists()


def test_cli_end_to_end(tmp_path):
    """The user-facing entry point (`python -m hive3_replication_spark`):
    bootstrap a db from the sf0.001 fixtures via the CLI in a subprocess
    (main() owns and stops its own SparkSession), with the log-upload flag
    — exit 0, a success report on stdout, and the run-log artifact."""
    import json as _json
    import subprocess
    import sys

    src = tmp_path / "source"
    src.mkdir()
    for p in glob.glob("/root/testdata/sf0.001/*.parquet"):
        shutil.copy(p, src / Path(p).name)
    up = tmp_path / "uploads"
    up.mkdir()
    proc = subprocess.run(
        [
            sys.executable, "-m", "hive3_replication_spark", "clidb",
            "--source-root", str(src),
            "--target-root", str(tmp_path / "target"),
            "--repl-root", str(tmp_path / "repl"),
            "--log-upload-dir", str(up),
            "--rerun-sleep", "0",
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    report = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["db_name"] == "clidb" and report["status"] == "success"
    arts = list(up.glob("replog_clidb_*.json"))
    assert len(arts) == 1


class _ConnectLikeSession:
    """A session with no py4j gateway — what ``spark._jvm`` access would
    look like under Spark Connect (the attributes simply don't exist)."""


def test_fs_copy_local_paths_need_no_jvm(tmp_path):
    """VERDICT r7 ask #4: local-path copies must not touch the private
    _jvm/_jsc gateway at all — proven by running them against a session
    object that has neither attribute."""
    from hive3_replication_spark.repl.snapshot import _fs_copy

    src = tmp_path / "src"
    src.mkdir()
    (src / "part-0.parquet").write_bytes(b"payload-a")
    (src / "nested").mkdir()
    (src / "nested" / "part-1.parquet").write_bytes(b"payload-b")
    dst = tmp_path / "out" / "dst"

    _fs_copy(_ConnectLikeSession(), str(src), str(dst))
    assert (dst / "part-0.parquet").read_bytes() == b"payload-a"
    assert (dst / "nested" / "part-1.parquet").read_bytes() == b"payload-b"

    # overwrite semantics: a stale destination is replaced, not merged
    (src / "part-0.parquet").write_bytes(b"payload-a2")
    (dst / "stale-file").write_bytes(b"old")
    _fs_copy(_ConnectLikeSession(), str(src), str(dst))
    assert (dst / "part-0.parquet").read_bytes() == b"payload-a2"
    assert not (dst / "stale-file").exists()

    # single-file source, file:// scheme on both sides
    single = tmp_path / "single.parquet"
    single.write_bytes(b"solo")
    _fs_copy(
        _ConnectLikeSession(), f"file://{single}", f"file://{tmp_path}/solo_out"
    )
    assert (tmp_path / "solo_out").read_bytes() == b"solo"


def test_fs_copy_remote_uri_without_gateway_raises_clearly(tmp_path):
    """Under Connect a remote-URI copy must fail with the documented
    classic-mode error, not an AttributeError deep inside py4j."""
    from hive3_replication_spark.repl.snapshot import _fs_copy

    with pytest.raises(RuntimeError, match="classic-mode SparkSession"):
        _fs_copy(
            _ConnectLikeSession(), "hdfs://nn/db/t.parquet", str(tmp_path / "d")
        )


def _race_acquire(tmp_path, n_threads: int) -> list[str]:
    """Race ``n_threads`` concurrent acquirers of the same lock through a
    barrier; returns one 'won'/'lost' token per thread."""
    import threading

    results: list[str] = []
    out_lock = threading.Lock()
    barrier = threading.Barrier(n_threads)

    def worker() -> None:
        lock = RunLock(tmp_path, "dump")
        barrier.wait()
        try:
            lock.acquire()
            token = "won"
        except LockHeldError:
            token = "lost"
        with out_lock:
            results.append(token)

    threads = [threading.Thread(target=worker) for _ in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def test_run_lock_race_single_winner(tmp_path):
    """16 simultaneous acquirers: mkdir atomicity must admit EXACTLY one
    (the reference's dump.lock guards a whole replication run — a double
    acquire would interleave two dumps; beeline_functions.sh:92-101)."""
    results = _race_acquire(tmp_path, 16)
    assert len(results) == 16 and results.count("won") == 1, results
    # the winning thread shares our pid, so an owned release must work
    # and free the lock for a fresh uncontended acquire
    RunLock(tmp_path, "dump").release()
    with RunLock(tmp_path, "dump"):
        pass


def test_stale_lock_takeover_race_single_winner(tmp_path):
    """8 simultaneous acquirers against a STALE (dead-pid) lock: the
    rename-aside takeover must elect exactly one claimer — the losers see
    either the winner's fresh lock (owner alive) or its mid-acquire
    window (no pid yet, inside the grace period) and raise LockHeldError
    rather than double-claiming (misc_functions.sh:168-180, made atomic)."""
    stale = RunLock(tmp_path, "dump")
    stale.path.mkdir(parents=True)
    (stale.path / "pid").write_text("999999999")  # dead pid

    results = _race_acquire(tmp_path, 8)
    assert len(results) == 8 and results.count("won") == 1, results
    # exactly one lock dir remains, owned by this process, releasable
    assert (stale.path / "pid").read_text() == str(__import__("os").getpid())
    RunLock(tmp_path, "dump").release()
    assert not stale.path.exists()


def test_run_lock_freed_by_holder_sigkill(tmp_path):
    """A holder killed with SIGKILL runs no cleanup, yet the kernel drops
    its flock: the next acquire succeeds with no takeover step, while
    the live holder is named by pid in the contention error."""
    import os
    import subprocess
    import sys

    with subprocess.Popen(
        [
            sys.executable, "-c",
            "import time\n"
            "from hive3_replication_spark.repl.registry import RunLock\n"
            f"RunLock({str(tmp_path)!r}, 'dump').acquire()\n"
            "print('held', flush=True)\n"
            "time.sleep(600)\n",
        ],
        stdout=subprocess.PIPE,
        text=True,
        cwd=str(Path(__file__).resolve().parents[1]),
    ) as holder:
        try:
            assert holder.stdout.readline().strip() == "held"
            with pytest.raises(LockHeldError, match=f"pid {holder.pid}"):
                RunLock(tmp_path, "dump").acquire()
        finally:
            holder.kill()  # SIGKILL: the holder runs no cleanup
    with RunLock(tmp_path, "dump") as lock:
        assert (lock.path / "pid").read_text() == str(os.getpid())
    assert not lock.path.exists()


def test_leftover_lock_naming_live_pid_does_not_block(tmp_path):
    """A lock dir left behind whose pid file names a LIVE but unrelated
    process (pid reuse) must not block: only a held flock excludes."""
    import os

    stale = RunLock(tmp_path, "dump")
    stale.path.mkdir(parents=True)
    (stale.path / "pid").write_text(str(os.getppid()))
    with RunLock(tmp_path, "dump"):
        assert (stale.path / "pid").read_text() == str(os.getpid())
    assert not stale.path.exists()


def test_run_lock_churn_never_two_holders(tmp_path):
    """8 threads x 400 acquire/hold/release cycles: a waiter that locks
    the inode a releasing holder just removed must notice and retry,
    or it and the next mkdir-er would hold the lock at once."""
    import sys
    import threading
    import time

    state = {"holders": 0, "max": 0, "wins": 0}
    errors: list[Exception] = []
    count_lock = threading.Lock()
    barrier = threading.Barrier(8)

    def cycle() -> None:
        try:
            with RunLock(tmp_path, "dump"):
                with count_lock:
                    state["holders"] += 1
                    state["wins"] += 1
                    state["max"] = max(state["max"], state["holders"])
                time.sleep(0.0005)
                with count_lock:
                    state["holders"] -= 1
        except LockHeldError:
            pass

    def worker() -> None:
        try:
            barrier.wait(30)
            for _ in range(400):
                cycle()
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)  # interleave threads between syscalls
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert state["max"] == 1, state
    assert state["wins"] > 0 and state["holders"] == 0, state
    assert not RunLock(tmp_path, "dump").path.exists()


def test_cli_exits_locked_when_instance_lock_held(tmp_path):
    """The CLI's instance-lock exit (hive3repl.sh:67-70): while another
    run holds the per-db lock, `python -m hive3_replication_spark` exits
    2 with a JSON `locked` status instead of running."""
    import json as _json
    import subprocess
    import sys

    repl_root = tmp_path / "repl"
    with RunLock(repl_root / "_locks", "instance_clidb"):
        proc = subprocess.run(
            [
                sys.executable, "-m", "hive3_replication_spark", "clidb",
                "--source-root", SF_DIR,
                "--target-root", str(tmp_path / "target"),
                "--repl-root", str(repl_root),
            ],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=str(Path(__file__).resolve().parents[1]),
        )
    assert proc.returncode == 2, proc.stdout[-2000:] + proc.stderr[-2000:]
    report = _json.loads(proc.stdout.strip().splitlines()[-1])
    assert report["db_name"] == "clidb" and report["status"] == "locked"
    assert not (tmp_path / "target").exists()


def test_local_path_uri_edge_cases():
    """ADVICE r8: _local_path must not claim a remote-authority file://
    URI as driver-local, and must treat colon-bearing scheme-less paths
    as paths (urlparse reads 'dir:part' as a scheme)."""
    from pathlib import Path

    from hive3_replication_spark.repl.snapshot import _local_path

    assert _local_path("/a/b") == Path("/a/b")
    assert _local_path("rel/dir") == Path("rel/dir")
    assert _local_path("dir:part/file") == Path("dir:part/file")
    assert _local_path("file:/db") == Path("/db")
    assert _local_path("file:///db") == Path("/db")
    assert _local_path("file://localhost/db") == Path("/db")
    assert _local_path("file://nfs-host/db") is None
    assert _local_path("hdfs://nn:8020/db") is None
    assert _local_path("s3a://bucket/key") is None
    # Hadoop no-authority single-slash URIs are REMOTE (round-9 review:
    # the first '://'-only check silently treated these as local paths)
    assert _local_path("hdfs:/user/repl/db") is None
    assert _local_path("s3a:/bucket/key") is None


def test_export_run_log_concurrent_writers_unique_valid(tmp_path, monkeypatch):
    """round-9 race coverage (VERDICT ask #6): concurrent exporters pinned
    to the SAME timestamp (worst case — monkeypatched clock) must each
    write their OWN parseable JSON artifact. Pre-fix, same-stamp writers
    opened one shared path with 'w' and interleaved two JSON bodies into
    a corrupt file; the O_EXCL + collision-suffix create makes every
    writer exclusive."""
    import datetime as real_dt
    import json as _json
    import threading

    from hive3_replication_spark.repl import pipeline as pl
    from hive3_replication_spark.repl.model import ReplConfig

    class _FixedDatetime(real_dt.datetime):
        @classmethod
        def now(cls, tz=None):  # noqa: D102 - stub
            return cls(2026, 1, 1, 12, 0, 0, 123456, tzinfo=tz)

    monkeypatch.setattr(pl.dt, "datetime", _FixedDatetime)
    cfg = ReplConfig(
        db_name="racedb",
        source_root=str(tmp_path / "src"),
        target_root=str(tmp_path / "tgt"),
        repl_root=str(tmp_path / "repl"),
        db_allowlist=("racedb",),
        log_upload=True,
        log_upload_dir=str(tmp_path),
    )
    paths: list[str] = []
    errors: list[BaseException] = []
    out_lock = threading.Lock()
    n_threads, n_reps = 8, 10
    barrier = threading.Barrier(n_threads)

    def worker(i: int) -> None:
        try:
            barrier.wait()
            for r in range(n_reps):
                p = pl.export_run_log(cfg, {"writer": i, "rep": r})
                with out_lock:
                    paths.append(p)
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [
        threading.Thread(target=worker, args=(i,)) for i in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert all(p is not None for p in paths)
    assert len(paths) == n_threads * n_reps
    assert len(set(paths)) == len(paths), "two writers shared one artifact"
    seen = set()
    for p in sorted(set(paths)):
        body = _json.loads(open(p, encoding="utf-8").read())
        seen.add((body["writer"], body["rep"]))
    assert len(seen) == n_threads * n_reps

def test_parity_resume_never_erases_failures():
    """Round-12 review: a resume whose mode didn't re-target a failed
    key dropped its record at load, and the final summary then read
    complete/0-fail on a sweep with a known failure. The policy
    (scripts/parity_sf1.py resume_and_targets) must (a) carry passes
    and non-sampled oracle-skips, (b) re-run a skip that gained a
    sampled verifier, (c) force every still-registered failure back
    into the target set in EVERY mode, and (d) keep — never erase —
    the failure record of a key that left the registry."""
    from scripts.parity_sf1 import resume_and_targets

    keys = [f"k{i:02d}" for i in range(60)]
    sampled = {"k03": object()}
    prior = {
        "k00": {"pass": True},
        "k01": {"pass": None, "oracle_skipped": "slow"},  # plain skip
        "k03": {"pass": None, "oracle_skipped": "slow"},  # now sampled
        "k55": {"pass": False, "err": "boom"},  # outside default window
        "gone": {"pass": False, "err": "old"},  # left the registry
    }
    probe = ["k58"]

    # default (window) mode: k55 is outside keys[:50] yet must re-run
    res, targets = resume_and_targets(prior, keys, sampled, probe, [])
    assert res["k00"]["pass"] is True
    assert res["k01"]["pass"] is None  # skip carried, not re-run
    assert "k03" not in res  # sampled verifier exists → re-runs
    assert "k55" not in res and "k55" in targets  # failure re-runs
    assert res["gone"]["pass"] is False  # unregistered: record kept
    assert "gone" not in targets
    assert targets[:50] == keys[:50] and "k58" in targets

    # --all mode: failure is already targeted, no duplicate appended
    res, targets = resume_and_targets(
        prior, keys, sampled, probe, ["--all"]
    )
    assert targets.count("k55") == 1 and "k55" not in res

    # --next mode: N fresh keys on top of carried records, failure and
    # sampled-skip forced in regardless of N
    res, targets = resume_and_targets(
        prior, keys, sampled, probe, ["--next", "2"]
    )
    todo = [k for k in targets if k not in res]
    assert "k55" in todo and "k03" in todo
    # the 2 "fresh" slots go to the first not-carried keys in sweep
    # order — k02 plus the re-running sampled-skip k03
    assert [k for k in todo if k not in ("k55",)][:2] == ["k02", "k03"]

    # --keys mode (round 13): the named keys are FORCED to re-measure —
    # prior records dropped so the fresh result re-dates them — while
    # untouched records carry forward and failures still re-run
    res, targets = resume_and_targets(
        prior, keys, sampled, probe, ["--keys", "k00,k07,absent"]
    )
    assert "k00" not in res and "k00" in targets  # pass dropped → re-run
    assert "k07" in targets  # never-measured named key targeted
    assert "absent" not in targets  # unregistered name ignored
    assert res["k01"]["pass"] is None  # unnamed records untouched
    assert "k55" in targets and "k55" not in res  # failure still forced
    assert res["gone"]["pass"] is False

    # --keys naming a key that LEFT the registry (ADVICE r13): it can't
    # re-run, so its prior record must survive the forced-pop — a pop
    # would silently erase it, violating invariant (d)
    res, targets = resume_and_targets(
        prior, keys, sampled, probe, ["--keys", "gone,k00"]
    )
    assert res["gone"]["pass"] is False  # record kept, not erased
    # main() runs only targets NOT already carried in res — the kept
    # record keeps "gone" out of the run set
    assert "gone" not in [k for k in targets if k not in res]
    assert "k00" not in res and "k00" in targets  # registered force OK


# -- control rows, crash convergence and footer schemas ----------------------


def _jobs_in(spark, group: str, fn):
    """(fn(), the ids of the Spark jobs it ran) via a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def _fail_once(monkeypatch, module, name: str) -> list:
    """Make ``module.name`` raise on its first call only; returns the
    call log."""
    real = getattr(module, name)
    calls: list = []

    def wrapper(*args, **kwargs):
        calls.append(name)
        if len(calls) == 1:
            raise RuntimeError(f"injected failure in {name}")
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapper)
    return calls


def _state_rows(spark, cfg, version: int) -> list:
    return sorted(
        map(tuple, spark.read.parquet(f"{cfg.target_root}/user_state_v{version}").collect())
    )


def test_watermark_rows_read_alike_across_writers_and_readers(
    spark, tmp_path, monkeypatch
):
    """A watermark dir holding an old Spark-written (INT96) row and a new
    pyarrow-written row gives the same ``repl_status`` on the pyarrow
    read path and the Spark read path; the pyarrow path runs no job."""
    import pyarrow.parquet as pq

    from hive3_replication_spark.repl import snapshot as snap

    wm = str(tmp_path / "wm")
    with monkeypatch.context() as m:  # the Spark writer, as before
        m.setattr(snap, "_local_path", lambda uri: None)
        snap.advance_watermark(spark, wm, "db", 5)
        snap.advance_watermark(spark, wm, "other", 50)
    snap.advance_watermark(spark, wm, "db", 9)
    files = snap._parquet_files(wm)
    assert len(files) == 3
    for f in files:  # both writers encode the timestamp as INT96
        col = pq.ParquetFile(f).schema.column(2)
        assert (col.name, col.physical_type) == ("updated_ts", "INT96")

    arrow_wm, jobs = _jobs_in(
        spark, "wm-pyarrow", lambda: snap.repl_status(spark, wm, "db")
    )
    assert arrow_wm == 9
    assert jobs == []
    with monkeypatch.context() as m:
        m.setattr(snap, "_local_path", lambda uri: None)
        spark_wm, jobs = _jobs_in(
            spark, "wm-spark", lambda: snap.repl_status(spark, wm, "db")
        )
        assert snap.repl_status(spark, wm, "other") == 50
    assert spark_wm == arrow_wm
    assert jobs, "the forced Spark path must run a job"


def test_control_row_temp_files_are_ignored_by_every_reader(
    spark, tmp_path, monkeypatch
):
    """A crash inside ``write_control_row`` leaves a dot-named temp file.
    It holds a whole row here, and still no reader may see it."""
    import datetime as dt
    import shutil

    import pyarrow.parquet as pq

    from hive3_replication_spark.repl import snapshot as snap
    from hive3_replication_spark.repl.model import MANIFEST_SCHEMA

    wm, dump = tmp_path / "wm", tmp_path / "dump"
    snap.advance_watermark(spark, str(wm), "db", 7)
    row = ("db", str(dump), 7, False, dt.datetime(2026, 1, 1))
    snap.write_control_row(
        spark, f"{dump}/{snap.MANIFEST_FILE}", MANIFEST_SCHEMA, row, append=False
    )
    # a leftover temp file carrying a later watermark / another manifest
    (done,) = snap._parquet_files(wm)
    snap.advance_watermark(spark, str(tmp_path / "later"), "db", 99)
    (later,) = snap._parquet_files(tmp_path / "later")
    shutil.copy(later, wm / f".{later.name}.tmp")
    mdir = dump / snap.MANIFEST_FILE
    shutil.copy(mdir / "part-00000.parquet", mdir / ".part-00000.parquet.tmp")

    assert snap._parquet_files(wm) == [done]
    assert pq.read_table(wm).num_rows == 1
    assert spark.read.parquet(str(wm)).count() == 1
    assert snap.repl_status(spark, str(wm), "db") == 7
    assert snap.read_manifest_row(spark, str(dump))["dump_txid"] == 7
    with monkeypatch.context() as m:
        m.setattr(snap, "_local_path", lambda uri: None)
        assert snap.repl_status(spark, str(wm), "db") == 7
        assert snap.read_manifest_row(spark, str(dump))["dump_txid"] == 7


def test_remote_control_rows_take_the_spark_writer(spark, monkeypatch):
    """A remote-looking root cannot be written driver-side: the row goes
    through ``rows_df`` and Spark's writer (recorded; no HDFS needed)."""
    import datetime as dt

    from hive3_replication_spark.repl import snapshot as snap
    from hive3_replication_spark.repl.model import WATERMARK_SCHEMA

    calls = []

    class _Writer:
        def coalesce(self, n):
            return self

        @property
        def write(self):
            return self

        def mode(self, mode):
            calls.append(mode)
            return self

        def parquet(self, path):
            calls.append(path)

    def fake_rows_df(spark_, schema, rows):
        calls.append((schema, rows))
        return _Writer()

    monkeypatch.setattr(snap, "rows_df", fake_rows_df)
    row = ("db", 3, dt.datetime(2026, 1, 1))
    snap.write_control_row(spark, "hdfs:/x/wm", WATERMARK_SCHEMA, row, append=True)
    assert calls == [(WATERMARK_SCHEMA, [row]), "append", "hdfs:/x/wm"]
    assert not Path("hdfs:").exists()


def test_transient_apply_failure_is_retried_and_reported(
    spark, repl_env, monkeypatch
):
    """The run report carries the replay's attempts and the delta size."""
    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    boot = run_replication(spark, cfg, run_dir, wm_dir)
    assert (boot["attempts"], boot["n_events"]) == (1, None)
    ev.filter(F.col("event_id") > cut).write.mode("append").parquet(
        f"{cfg.source_root}/events.parquet"
    )
    calls = _fail_once(monkeypatch, incr, "apply_events")
    report = run_replication(spark, cfg, run_dir, wm_dir)
    assert len(calls) == 2
    assert report["status"] == STATUS_SUCCESS
    assert report["attempts"] == 2
    assert report["n_events"] == max_id - cut
    noop = run_replication(spark, cfg, run_dir, wm_dir)
    assert (noop["attempts"], noop["n_events"]) == (0, 0)


#: crash point → (the mode of the run that fails, module, the function
#: that fails once)
CRASH_POINTS = {
    "bootstrap_state_written": ("bootstrap", "snapshot", "advance_watermark"),
    "incremental_manifest_written": ("incremental", "incremental", "apply_events"),
    "incremental_state_written": ("incremental", "incremental", "advance_watermark"),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_crash_at_a_moved_write_converges_on_rerun(
    spark, repl_env, monkeypatch, point
):
    """Fail once at a durable write, rerun, and the target's state and
    watermark equal those of a clean run over the same source."""
    import dataclasses

    from hive3_replication_spark.repl import snapshot as snap

    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    root = Path(cfg.target_root).parent
    cfg = dataclasses.replace(cfg, incr_rerun=1)
    clean = dataclasses.replace(
        cfg, target_root=str(root / "clean_target"),
        repl_root=str(root / "clean_repl"),
    )
    clean_wm = str(root / "clean_wm")
    mode, module, fn = CRASH_POINTS[point]
    module = {"snapshot": snap, "incremental": incr}[module]

    def run(c, w):
        return run_replication(spark, c, run_dir, w)

    def crash_then_rerun():
        calls = _fail_once(monkeypatch, module, fn)
        with pytest.raises(Exception):
            run(cfg, wm_dir)
        assert calls == [fn]
        monkeypatch.undo()
        report = run(cfg, wm_dir)
        assert (report["mode"], report["status"]) == (mode, STATUS_SUCCESS)

    assert run(clean, clean_wm)["status"] == STATUS_SUCCESS
    if mode == "bootstrap":
        crash_then_rerun()
    else:
        assert run(cfg, wm_dir)["status"] == STATUS_SUCCESS
    assert _state_rows(spark, cfg, cut) == _state_rows(spark, clean, cut)

    ev.filter(F.col("event_id") > cut).write.mode("append").parquet(
        f"{cfg.source_root}/events.parquet"
    )
    assert run(clean, clean_wm)["status"] == STATUS_SUCCESS
    if mode == "incremental":
        crash_then_rerun()
    else:
        assert run(cfg, wm_dir)["status"] == STATUS_SUCCESS
    assert snap.repl_status(spark, wm_dir, cfg.db_name) == max_id
    assert snap.repl_status(spark, clean_wm, cfg.db_name) == max_id
    assert _state_rows(spark, cfg, max_id) == _state_rows(spark, clean, max_id)


def test_bootstrap_materializes_the_state_at_its_cut(spark, repl_env):
    """The bootstrap writes ``user_state_v{cut}`` before its watermark, so
    the target's state is queryable at once and equals last-writer-wins
    over the events up to the cut."""
    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    run_replication(spark, cfg, run_dir, wm_dir)
    w = Window.partitionBy("user_id").orderBy(F.desc("event_id"))
    expected = sorted(
        map(
            tuple,
            ev.filter(F.col("event_id") <= cut)
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1 AND event_type <> 'error'")
            .select(
                "user_id",
                F.col("event_id").alias("last_event_id"),
                F.col("value").alias("state_value"),
            )
            .collect(),
        )
    )
    assert _state_rows(spark, cfg, cut) == expected


def _assert_footer_matches_inference(spark, path) -> None:
    from hive3_replication_spark.catalog import footer_schema

    got = footer_schema(spark, path)
    assert got is not None, f"{path}: footer schema did not map"
    assert got == spark.read.parquet(str(path)).schema, path


FIXTURE_TABLES = sorted(
    str(p) for p in Path(SF_DIR).parent.glob("sf*/*.parquet")
)


@pytest.mark.parametrize(
    "path", FIXTURE_TABLES, ids=[p.split("/")[-2] + "/" + p.split("/")[-1] for p in FIXTURE_TABLES]
)
def test_footer_schema_equals_inferred_schema_fixture(spark, path):
    _assert_footer_matches_inference(spark, path)


def test_footer_schema_equals_inferred_schema_replication_payloads(
    spark, repl_env
):
    """Every payload the replication reads back: the bootstrap dump's and
    target's tables, an incremental dump, and the state versions."""
    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    run_replication(spark, cfg, run_dir, wm_dir)
    ev.filter(F.col("event_id") > cut).write.mode("append").parquet(
        f"{cfg.source_root}/events.parquet"
    )
    run_replication(spark, cfg, run_dir, wm_dir)
    stage = Path(cfg.repl_root) / cfg.db_name
    payloads = [
        *(p for p in (stage / f"boot_{cut}").iterdir() if not p.name.startswith(("_", "."))),
        stage / f"incr_{cut}_{max_id}" / "events",
        *Path(cfg.target_root).iterdir(),
    ]
    assert any(p.name == f"user_state_v{max_id}" for p in payloads)
    for p in payloads:
        _assert_footer_matches_inference(spark, p)


def _count_footer_reads(monkeypatch) -> list[str]:
    """Names of the files whose footer the cut-id read opens from now on."""
    from hive3_replication_spark.repl import snapshot as snap

    opened: list[str] = []
    real = snap._footer_int64_max

    def counting(f, column):
        opened.append(f.name)
        return real(f, column)

    monkeypatch.setattr(snap, "_footer_int64_max", counting)
    return opened


def _data_files(table: Path) -> list[str]:
    return sorted(
        p.name for p in table.iterdir() if not p.name.startswith((".", "_"))
    )


def test_incremental_cut_id_opens_only_new_footers(spark, repl_env, monkeypatch):
    """The source's events directory gains a file per tick; a tick's cut-id
    read must open that file's footer only, not every footer again."""
    cfg, run_dir, wm_dir, ev, cut, max_id = repl_env
    events_dir = Path(cfg.source_root) / "events.parquet"
    before = _data_files(events_dir)
    opened = _count_footer_reads(monkeypatch)
    quiet = incr.incremental_dump(spark, cfg, cut)
    assert quiet["dump_path"] is None and quiet["dump_txid"] == cut
    assert sorted(opened) == before
    opened.clear()
    delta = ev.filter(F.col("event_id") > cut)
    delta.coalesce(1).write.mode("append").parquet(str(events_dir))
    (new,) = set(_data_files(events_dir)) - set(before)
    tick = incr.incremental_dump(spark, cfg, cut)
    assert tick["dump_txid"] == max_id and tick["n_events"] == delta.count()
    assert opened == [new]


def test_cut_id_rereads_a_same_size_rewrite(tmp_path, monkeypatch):
    """A file rewritten in place at the same size, with a later mtime, is
    read again: the memoized answer must not survive the rewrite."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive3_replication_spark.repl.snapshot import parquet_int64_max

    table = tmp_path / "events.parquet"
    table.mkdir()
    old, other = table / "part-0.parquet", table / "part-1.parquet"
    pq.write_table(pa.table({"event_id": pa.array([1, 2], pa.int64())}), old)
    pq.write_table(pa.table({"event_id": pa.array([3, 4], pa.int64())}), other)
    opened = _count_footer_reads(monkeypatch)
    assert parquet_int64_max(table, "event_id") == 4
    assert parquet_int64_max(table, "event_id") == 4
    assert len(opened) == 2  # the unchanged second read opened nothing
    st = os.stat(old)
    pq.write_table(pa.table({"event_id": pa.array([1, 9], pa.int64())}), old)
    assert os.stat(old).st_size == st.st_size
    # a later write's mtime, even where the clock did not tick in between
    os.utime(old, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert parquet_int64_max(table, "event_id") == 9
    assert opened[2:] == ["part-0.parquet"]
