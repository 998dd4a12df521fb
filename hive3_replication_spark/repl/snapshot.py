"""Bootstrap (full) replication: snapshot dump + load (SURVEY.md §3.2).

Reference flow: ``repl dump <db>`` materializes a consistent whole-db
snapshot to HDFS and returns (path, txid) (``HQL/replbootstrap.hql:3``,
driver ``beeline_functions.sh:51-129``); ``repl load <db> from '<path>'``
recreates tables at the target (``HQL/replload.hql:5``, driver
``:180-238``).

Engine flow: per-table ``read.parquet → write.parquet`` into an immutable
dump directory, a consistent cut on the event stream (T10), and a manifest
written *last* as the commit marker — a reader that finds the manifest is
guaranteed complete table payloads (write-ordering commit protocol,
SURVEY.md §7 risk 1). Parallelism = input splits × tables; there is no
distcp because the copy *is* a distributed Spark job (SURVEY.md §4
"parallel copy" row).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import uuid
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..cache import per_file, table_fingerprint
from ..catalog import read_parquet
from ..session import ensure_engine_confs
from ..util import rows_df
from .model import MANIFEST_SCHEMA, WATERMARK_SCHEMA, ReplConfig
from .registry import RunLock

MANIFEST_FILE = "_manifest"
VIEWS_FILE = "_views.json"
#: The change-stream table that defines the consistent cut (DUMP_TXID).
EVENTS_TABLE = "events"

#: View definitions replicated as metadata (README.md:4: "managed, external
#: tables and views"). Views are SQL text in the dump, recreated at load —
#: exactly how Hive REPL ships them (no data movement). ``{table}``
#: placeholders bind to the target catalog names at load time.
DEFAULT_VIEWS: dict[str, str] = {
    "v_order_revenue": (
        "SELECT o_orderkey, o_custkey, o_totalprice FROM {orders} "
        "WHERE o_orderstatus = 'O'"
    ),
    "v_event_counts": (
        "SELECT event_type, COUNT(*) AS n_events FROM {events} "
        "GROUP BY event_type"
    ),
}


def _parquet_files(path: str | Path) -> list[Path]:
    p = Path(path)
    return [p] if p.is_file() else [
        f for f in p.rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    ]


def parquet_row_count(path: str | Path) -> int:
    """Row count from parquet footers only — no Spark job, no data scan
    (the count a 100 TB verification step can afford)."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(path))


#: A row-group's statistics lack min/max, or the file lacks the column:
#: the footers cannot give the answer.
_NO_STATS = object()


def _footer_int64_max(f: Path, column: str):
    """MAX of ``column`` over one file's populated row groups: None when
    it has no rows, ``_NO_STATS`` when its footer cannot say."""
    meta = pq.ParquetFile(f).metadata
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
    if column not in idx:
        return _NO_STATS
    best = None
    for rg in range(meta.num_row_groups):
        grp = meta.row_group(rg)
        if grp.num_rows == 0:
            continue
        stats = grp.column(idx[column]).statistics
        if stats is None or not stats.has_min_max:
            return _NO_STATS
        best = stats.max if best is None else max(best, stats.max)
    return best


def parquet_int64_max(path: str | Path, column: str) -> int | None:
    """MAX of an int64 column from parquet row-group statistics only — the
    same footer-only discipline as ``parquet_row_count`` (optimization
    round 15: the bootstrap cut id was a full Spark aggregation job over
    the just-copied event payload; int64 min/max stats are exact and
    present in every Spark/DuckDB-written file, so the footer IS the
    answer). Returns None — caller falls back to the Spark job — when the
    payload has no rows or any populated row group lacks stats (e.g.
    files written with statistics disabled).

    A file's answer is reused while its (name, size, st_mtime_ns) is
    unchanged (``cache.per_file``), so an incremental source that gains a
    file per tick opens one footer per tick, and a file rewritten in place
    is read again."""
    maxes = per_file(
        f"int64_max:{column}", path, lambda f: _footer_int64_max(f, column)
    )
    maxes = [m for m in maxes or () if m is not None]
    if any(m is _NO_STATS for m in maxes):
        return None
    return max(maxes, default=None)


def _local_path(uri: str) -> Path | None:
    """The local filesystem path behind a scheme-less or ``file:`` URI,
    or None for anything that may live elsewhere (ADVICE r8 hardening +
    round-9 review): a ``file://host/db`` URI with a real remote
    authority must NOT silently resolve to the driver-local ``/db`` (it
    routes to the Hadoop-FS branch instead); a scheme-less path whose
    first segment contains a colon (``dir:part/file``) is a PATH, not a
    remote scheme; and Hadoop's no-authority single-slash form
    (``hdfs:/db``, ``s3a:/bucket/x``) is REMOTE even without ``://`` —
    the disambiguator is the absolute path after the colon, which no
    relative filename produces. Ambiguity errs toward the remote branch:
    it raises clearly instead of copying the wrong local tree."""
    from urllib.parse import urlparse

    parsed = urlparse(uri)
    if parsed.scheme == "file":
        if parsed.netloc not in ("", "localhost"):
            return None
        return Path(parsed.path)
    if "://" in uri:
        return None
    if parsed.scheme and parsed.path.startswith("/"):
        return None  # scheme:/abs/path — Hadoop no-authority remote URI
    return Path(uri)


def _fs_copy(spark: SparkSession, src: str, dst: str) -> None:
    """Recursive byte copy (S9/S8 utility, ``misc_functions.sh:132-137``
    hdfs ops + distcp copy semantics). Driver-side per table; at 100 TB
    the per-table copy would instead be a mapPartitions job over the file
    listing — same semantics, executor-parallel.

    Local (scheme-less / file://) paths copy with ``shutil`` — no JVM
    access, so the path works identically under Spark Connect. Remote
    URIs (hdfs://, s3a://) need the Hadoop FileSystem API, which is only
    reachable through the classic-mode ``_jvm`` gateway — that private
    API is confined to this capability-checked branch (VERDICT r7 ask
    #4), and under Connect it raises a clear error instead of failing
    deep inside py4j."""
    src_local, dst_local = _local_path(src), _local_path(dst)
    if src_local is not None and dst_local is not None:
        import shutil

        if dst_local.is_dir():
            shutil.rmtree(dst_local)
        elif dst_local.exists():
            dst_local.unlink()
        dst_local.parent.mkdir(parents=True, exist_ok=True)
        if src_local.is_dir():
            shutil.copytree(src_local, dst_local)
        else:
            shutil.copy2(src_local, dst_local)
        return
    jvm = getattr(spark, "_jvm", None)
    jsc = getattr(spark, "_jsc", None)
    if jvm is None or jsc is None:  # Spark Connect: no py4j gateway
        raise RuntimeError(
            f"remote-URI copy {src!r} -> {dst!r} needs the Hadoop "
            "FileSystem API, which requires a classic-mode SparkSession "
            "(Spark Connect exposes no JVM gateway); run the replication "
            "driver in classic mode or stage through local paths"
        )
    conf = jsc.hadoopConfiguration()
    src_path = jvm.org.apache.hadoop.fs.Path(src)
    dst_path = jvm.org.apache.hadoop.fs.Path(dst)
    src_fs = src_path.getFileSystem(conf)
    dst_fs = dst_path.getFileSystem(conf)
    if dst_fs.exists(dst_path):
        dst_fs.delete(dst_path, True)
    jvm.org.apache.hadoop.fs.FileUtil.copy(
        src_fs, src_path, dst_fs, dst_path, False, True, conf
    )


def source_tables(cfg: ReplConfig) -> list[str]:
    """Table-set selection with external-table pruning
    (``beeline_functions.sh:70-76``; ``env.sh:8``) — a driver-side plan
    decision taken before any Spark job is launched (SURVEY.md §4 row 2)."""
    root = Path(cfg.source_root)
    present = sorted(p.stem for p in root.glob("*.parquet"))
    if cfg.include_external_tables:
        return present
    # only MANAGED tables replicate by default; the events stream always
    # rides along (it is the replication transport itself)
    managed = {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem",
    }
    return [t for t in present if t in managed or t == EVENTS_TABLE]


def table_fingerprints(root: str) -> dict[str, tuple | None]:
    """``table_fingerprint`` of every table payload under ``root``:
    sorted (relative name, size, mtime_ns) triples of its files — rsync's
    quick check, standing in for distcp ``-update``
    (``HQL/replextload.hql:9-11``). ``_fs_copy`` preserves mtimes, so a
    copied table keeps matching its source. Single-file tables carry an
    empty relative name (source ``t.parquet`` and target ``t`` are the
    same bytes under different names by design)."""
    rootp = Path(root)
    if not rootp.exists():
        return {}
    # table name = entry name minus the .parquet suffix (source tables
    # may be single files or spark-written directories)
    return {
        entry.name.removesuffix(".parquet"): table_fingerprint(entry)
        for entry in sorted(rootp.iterdir())
        if not entry.name.startswith((".", "_"))
    }


def sync_static_tables(
    spark: SparkSession, cfg: ReplConfig, tables: list[str] | None = None
) -> list[str]:
    """Copy-skip sync (SURVEY.md §4 row 6, the manifest-diff J6 pattern):
    compare source vs target payload fingerprints and byte-copy only the
    tables that differ — the engine's distcp ``-update``. Returns the list
    of tables actually copied, so reruns are observably incremental."""
    copied: list[str] = []
    src_fp = table_fingerprints(cfg.source_root)
    tgt_fp = table_fingerprints(cfg.target_root)
    # same table-set pruning as the dump: external tables only when opted in
    # (beeline_functions.sh:70-76)
    in_scope = tables if tables is not None else source_tables(cfg)
    for t in sorted(in_scope):
        if t == EVENTS_TABLE:
            continue  # the change stream replicates via event replay
        if src_fp.get(t) != tgt_fp.get(t):
            _fs_copy(
                spark, f"{cfg.source_root}/{t}.parquet", f"{cfg.target_root}/{t}"
            )
            copied.append(t)
    return copied


#: Names the drop-replay may ever touch at the target: replicated managed
#: tables only — never the events transport, state versions, or watermarks.
_DROPPABLE = {
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
}


def drop_removed_tables(cfg: ReplConfig) -> list[str]:
    """DDL drop replay (``README.md:38`` — incremental dumps carry DDL
    events; Hive's REPL LOAD removes tables dropped at the source): a
    managed table present at the target but no longer at the source is
    deleted at the target. Scope is a strict allowlist of replicated table
    names, so state versions, watermarks, and the events transport can
    never be collateral. Returns the dropped names (observable, like
    ``tables_synced``)."""
    import shutil

    src = {p.stem for p in Path(cfg.source_root).glob("*.parquet")}
    dropped: list[str] = []
    tgt_root = Path(cfg.target_root)
    if not tgt_root.exists():
        return dropped
    for entry in sorted(tgt_root.iterdir()):
        name = entry.name.removesuffix(".parquet")
        if name in _DROPPABLE and name not in src:
            if entry.is_dir():
                shutil.rmtree(entry)
            else:
                entry.unlink()
            dropped.append(name)
    return dropped


def repl_status(spark: SparkSession, watermark_dir: str, db_name: str) -> int | None:
    """``repl status`` (``HQL/replstatus.hql:4`` via
    ``beeline_functions.sh:3-25``): latest watermark for the db, or None if
    never replicated (the awk row-4 parse is simply a DataFrame read here —
    SURVEY.md §3.1 engine mapping).

    The watermark registry is CONTROL-PLANE metadata — one row per db per
    run, a few KB at any corpus scale — so a local registry reads
    driver-side (optimization round 15: the Spark read+agg was one fixed
    job per call, two calls per pipeline run). Remote/unreadable
    registries take the Spark path unchanged."""
    ensure_engine_confs(spark)
    if not Path(watermark_dir).exists():
        return None
    local = _local_path(watermark_dir)
    if local is not None:
        try:
            best: tuple | None = None
            wm: int | None = None
            for f in _parquet_files(local):
                for row in pq.read_table(
                    f, columns=["db_name", "last_repl_id", "updated_ts"]
                ).to_pylist():
                    if row["db_name"] != db_name:
                        continue
                    lri = row["last_repl_id"]
                    # max_by(last_repl_id, updated_ts); ties on updated_ts
                    # are tie-broken toward the larger (non-NULL) watermark
                    # — Spark's max_by tie pick is partition-order-arbitrary
                    k = (row["updated_ts"], lri is not None, lri or 0)
                    if best is None or k > best:
                        best, wm = k, lri
            return wm
        except (OSError, pa.ArrowException):  # unreadable: the Spark read
            pass
    wm = (
        spark.read.schema(WATERMARK_SCHEMA).parquet(watermark_dir)
        .filter(F.col("db_name") == db_name)
        .agg(F.max_by("last_repl_id", "updated_ts").alias("wm"))
        .collect()
    )
    return wm[0]["wm"] if wm else None


def read_manifest_row(spark: SparkSession, dump_path: str) -> dict:
    """The one-row dump manifest as a plain dict — driver-side for local
    dumps (footer-discipline: a 1-row control file is not a Spark job's
    worth of work; optimization round 15), Spark read elsewhere."""
    local = _local_path(f"{dump_path}/{MANIFEST_FILE}")
    if local is not None:
        try:
            rows = pq.read_table(local).to_pylist()
            if len(rows) == 1:
                return rows[0]
        except (OSError, pa.ArrowException):  # unreadable: the Spark read
            pass
    return (
        spark.read.schema(MANIFEST_SCHEMA)
        .parquet(f"{dump_path}/{MANIFEST_FILE}")
        .collect()[0]
        .asDict()
    )


#: Arrow types of the control-row columns (``MANIFEST_SCHEMA``,
#: ``WATERMARK_SCHEMA``).
_ARROW_TYPES = {
    T.StringType: pa.string(), T.LongType: pa.int64(),
    T.BooleanType: pa.bool_(), T.TimestampType: pa.timestamp("us"),
}


def write_control_row(
    spark: SparkSession, path: str, schema: T.StructType, row: tuple,
    append: bool,
) -> None:
    """Write one control-plane row — a dump manifest or a watermark — as
    a parquet file in the table directory ``path``: appended as a new
    file, or replacing the directory's files.

    A local root is written driver-side with pyarrow: a dot-named temp
    file, then ``os.replace``, so a reader (``_parquet_files``, pyarrow
    datasets and Spark all skip dot files) sees the whole row or none of
    it. A Spark write of one row costs two jobs' worth of work (~50-60 ms
    of CPU); this costs under a millisecond. Values are encoded as Spark
    encodes them: a naive timestamp goes through
    ``TimestampType.toInternal``, the process-local-time reading that
    PySpark's literal conversion applies, and is stored as INT96. So
    pyarrow- and Spark-written rows read back identically on either read
    path. Remote roots take the Spark writer."""
    local = _local_path(path)
    if local is None:
        rows_df(spark, schema, [row]).coalesce(1).write.mode(
            "append" if append else "overwrite"
        ).parquet(path)
        return
    table = pa.table(
        [
            pa.array([f.dataType.toInternal(v)], _ARROW_TYPES[type(f.dataType)])
            for f, v in zip(schema.fields, row)
        ],
        schema=pa.schema([
            pa.field(f.name, _ARROW_TYPES[type(f.dataType)], f.nullable)
            for f in schema.fields
        ]),
    )
    local.mkdir(parents=True, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet" if append else "part-00000.parquet"
    tmp = local / f".{name}.tmp"
    pq.write_table(table, tmp, use_deprecated_int96_timestamps=True)
    os.replace(tmp, local / name)
    if not append:
        for old in _parquet_files(local):
            if old.name != name:
                old.unlink()


def advance_watermark(
    spark: SparkSession, watermark_dir: str, db_name: str, txid: int
) -> None:
    """Append a status row (watermark advances only after successful replay,
    ``README.md:34-46``). An appended file is the commit: an incomplete
    load leaves the previous row as the latest."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    write_control_row(
        spark, watermark_dir, WATERMARK_SCHEMA, (db_name, txid, now), append=True
    )


def bootstrap_dump(
    spark: SparkSession, cfg: ReplConfig, run_dir: str
) -> dict:
    """Full-db snapshot dump → (dump_path, dump_txid) manifest.

    Consistent cut (T10): the event-log file set captured at listing time —
    parquet files are immutable, so concurrent appends land in new files and
    cannot leak into the copied snapshot; DUMP_TXID = max event id within
    the copied payload. Dump mutual exclusion per the reference's dump.lock
    (``beeline_functions.sh:92-101``).
    """
    ensure_engine_confs(spark)
    cfg.validate()
    # dump mutual exclusion is per REPL_ROOT (the contended staging space),
    # regardless of which run_dir the caller passed
    with RunLock(f"{cfg.repl_root}/_locks", "dump"):
        # Consistent cut for an append-only event log: parquet files are
        # immutable, so the FILE SET at listing time is a consistent
        # snapshot — later appends only create new files. Byte-copy that
        # set, then DUMP_TXID = max event id *within the copied payload*
        # (not "max at some later read"), mirroring Hive ChangeManager's
        # immutable-file retention (ManualSteps.md:8-10). This replaces a
        # full decode/re-encode of the stream with a copy — at 100 TB the
        # difference between hours and minutes.
        tables = source_tables(cfg)
        staging = str(Path(cfg.repl_root) / cfg.db_name / "_staging")
        # a crashed prior run may have left a partial/differently-configured
        # staging dir behind — never merge into it
        if Path(staging).exists():
            import shutil

            shutil.rmtree(staging)

        def dump_one(t: str) -> None:
            # all payloads (stream included) move as byte copies
            _fs_copy(spark, f"{cfg.source_root}/{t}.parquet", f"{staging}/{t}")

        with ThreadPoolExecutor(max_workers=min(8, len(tables))) as pool:
            list(pool.map(dump_one, tables))
        # DUMP_TXID from parquet row-group statistics (footer-only, exact
        # for int64 — the parquet_row_count discipline); a payload without
        # stats falls back to the aggregation job.
        dump_txid = parquet_int64_max(f"{staging}/{EVENTS_TABLE}", "event_id")
        if dump_txid is None:
            dump_txid = (
                spark.read.parquet(f"{staging}/{EVENTS_TABLE}")
                .agg(F.max("event_id"))
                .collect()[0][0]
                or 0
            )
        dump_path = str(Path(cfg.repl_root) / cfg.db_name / f"boot_{dump_txid}")
        if not dump_path.startswith(str(cfg.repl_root)):  # beeline_functions.sh:123
            raise ValueError(f"dump path {dump_path} outside REPL_ROOT")
        if Path(dump_path).exists():
            import shutil

            shutil.rmtree(dump_path)
        Path(staging).rename(dump_path)

        # views ship as SQL metadata, no data movement (README.md:4)
        (Path(dump_path) / VIEWS_FILE).write_text(json.dumps(DEFAULT_VIEWS))
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        # manifest last = commit marker
        write_control_row(
            spark, f"{dump_path}/{MANIFEST_FILE}", MANIFEST_SCHEMA,
            (cfg.db_name, dump_path, int(dump_txid), True, now), append=False,
        )
    return {"dump_path": dump_path, "dump_txid": int(dump_txid), "tables": tables}


def bootstrap_load(
    spark: SparkSession, cfg: ReplConfig, dump_path: str, watermark_dir: str
) -> dict:
    """``repl load`` (``HQL/replload.hql:5``): recreate all tables at the
    target from the dump, then advance the watermark. Table writes are
    idempotent overwrites of immutable snapshot content, so a partial crash
    + rerun converges (the reference instead requires manual cleanup,
    ``TODO.md`` open bug — the engine closes it)."""
    ensure_engine_confs(spark)
    manifest = read_manifest_row(spark, dump_path)
    # dump payloads are parquet dirs (re-encoded tables) or single parquet
    # files (byte-copied tables) — both read/copy identically; skip the
    # manifest and filesystem metadata (checksum/_SUCCESS) entries
    table_dirs = [
        d for d in sorted(Path(dump_path).iterdir())
        if d.name != MANIFEST_FILE and not d.name.startswith((".", "_"))
    ]

    def load_one(tdir: Path) -> tuple[str, int]:
        # byte-level payload copy (distcp/REPL LOAD semantics,
        # HQL/replextload.hql:8-11) — snapshot files are immutable parquet,
        # so copying bytes is correct and skips a decode+re-encode of the
        # entire database; row count comes straight from parquet footers
        # (no Spark job, no data scan)
        _fs_copy(spark, str(tdir), f"{cfg.target_root}/{tdir.name}")
        return tdir.name, parquet_row_count(f"{cfg.target_root}/{tdir.name}")

    with ThreadPoolExecutor(max_workers=min(8, len(table_dirs))) as pool:
        loaded = dict(pool.map(load_one, table_dirs))
    views = register_target_catalog(spark, cfg, sorted(loaded), dump_path)
    # the first state version, so the target is queryable at the cut and
    # the first incremental tick merges onto it instead of replaying the
    # whole bootstrapped stream
    from .incremental import write_state

    write_state(spark, cfg, manifest["dump_txid"])
    advance_watermark(spark, watermark_dir, cfg.db_name, manifest["dump_txid"])
    return {
        "dump_txid": manifest["dump_txid"],
        "tables_loaded": loaded,
        "views_created": views,
    }


def register_target_catalog(
    spark: SparkSession, cfg: ReplConfig, tables: list[str], dump_path: str
) -> list[str]:
    """Register loaded tables in the session catalog (as ``<db>_<table>``
    temp views over the target parquet) and recreate the replicated view
    definitions over them — the engine mapping of Hive REPL's metadata
    replay (views, ``README.md:4``)."""
    names: dict[str, str] = {}
    for t in tables:
        vname = f"{cfg.db_name}_{t}"
        path = f"{cfg.target_root}/{t}"
        # footer-derived schema skips the per-table inference job
        # (optimization round 15); ambiguous payloads infer as before
        read_parquet(spark, path).createOrReplaceTempView(vname)
        names[t] = vname
    created: list[str] = []
    views_file = Path(dump_path) / VIEWS_FILE
    if views_file.exists():
        for view_name, sql in json.loads(views_file.read_text()).items():
            try:
                body = sql.format(**names)
            except KeyError:  # view references a table not in this dump
                continue
            qualified = f"{cfg.db_name}_{view_name}"
            spark.sql(f"CREATE OR REPLACE TEMP VIEW {qualified} AS {body}")
            created.append(qualified)
    return created
