"""Manifest-diff copy skipping (distcp -update semantics, SURVEY.md §4 row
6): an unchanged table must NOT be re-copied on the next run; a modified
table must be."""

from __future__ import annotations

import glob
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from hive3_replication_spark.repl.model import ReplConfig
from hive3_replication_spark.repl.pipeline import run_replication
from hive3_replication_spark.repl.snapshot import sync_static_tables
from tests.conftest import SF_DIR


def test_sync_skips_unchanged_and_copies_modified(spark, tmp_path):
    src = tmp_path / "source"
    src.mkdir()
    for p in glob.glob(f"{SF_DIR}/*.parquet"):
        shutil.copy(p, src / Path(p).name) if Path(p).is_file() else None
    # events fixture may be a directory at some SFs
    if not (src / "events.parquet").exists():
        shutil.copytree(f"{SF_DIR}/events.parquet", src / "events.parquet")
    cfg = ReplConfig(
        db_name="repltest",
        source_root=str(src),
        target_root=str(tmp_path / "target"),
        repl_root=str(tmp_path / "repl"),
    )
    run_replication(spark, cfg, str(tmp_path / "run"), str(tmp_path / "wm"))

    # target now mirrors source → nothing to sync
    assert sync_static_tables(spark, cfg) == []

    # modify one table at the source → exactly that table re-copies
    nation = spark.read.parquet(str(src / "nation.parquet"))
    nation.filter(F.col("n_nationkey") < 20).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "nation_new"))
    shutil.rmtree(src / "nation.parquet", ignore_errors=True)
    (src / "nation.parquet").unlink(missing_ok=True)
    shutil.copytree(tmp_path / "nation_new", src / "nation.parquet")

    assert sync_static_tables(spark, cfg) == ["nation"]
    assert (
        spark.read.parquet(f"{cfg.target_root}/nation").count() == 20
    )
    # and the next sync is again a no-op
    assert sync_static_tables(spark, cfg) == []

    # a same-size in-place rewrite (different bytes, equal st_size) must
    # re-copy too: uncompressed, statistics-free files whose n_name values
    # only change case have identical sizes
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    table = pq.read_table(str(src / "nation.parquet"))
    opts = dict(compression="NONE", use_dictionary=False,
                write_statistics=False)
    shutil.rmtree(src / "nation.parquet")
    pq.write_table(table, str(src / "nation.parquet"), **opts)
    assert sync_static_tables(spark, cfg) == ["nation"]
    size = (src / "nation.parquet").stat().st_size
    lowered = table.set_column(
        table.schema.get_field_index("n_name"),
        "n_name",
        pc.utf8_lower(table["n_name"]),
    )
    pq.write_table(lowered, str(src / "nation.parquet"), **opts)
    assert (src / "nation.parquet").stat().st_size == size
    assert sync_static_tables(spark, cfg) == ["nation"]
    names = {
        r.n_name
        for r in spark.read.parquet(f"{cfg.target_root}/nation").collect()
    }
    assert names == set(lowered["n_name"].to_pylist())
    assert names != set(table["n_name"].to_pylist())
    assert sync_static_tables(spark, cfg) == []
