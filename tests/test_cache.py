"""The fingerprint-keyed cache (``hive3_replication_spark.cache``): a table
rewritten in place re-derives every layout and relation built from it,
``clear_caches`` releases every persist the memoized keys make, a replaced
layout's scratch dir is removed, and ``entry()`` starts no thread. Also the
``expr_memo`` key discipline: keys name the module constants their trees
read, and a memoized aliased tree still resolves to fresh exprIds per plan.
``fan_out``'s split-count memo does not keep its probes alive.
"""

from __future__ import annotations

import gc
import os
import shutil
import threading
import weakref

import pyarrow.parquet as pq
import pytest

from hive3_replication_spark import cache
from hive3_replication_spark.llm.dedup import clear_caches
from hive3_replication_spark.registry import build_queries
from tests.conftest import SF_DIR

QUERIES = build_queries()

#: key → (the input table the probe rewrites, the layout site it reads)
STALE_PROBES = {
    "scan_partitioned": ("events", "partitioned_events"),
    "scan_zorder": ("events", "zorder_events"),
    "scan_binaryfile": ("documents", "binary_docs"),
    "llm_ann_index_probe": ("embeddings", "ann_index"),
    "llm_dedup_ngram": ("documents", None),
    "llm_dedup_minhash": ("documents", None),
}


def _copy_fixture(dst) -> str:
    """A writable copy of the fixture dir (the fixture files are read-only;
    copyfile does not carry the mode over)."""
    os.makedirs(dst)
    for name in os.listdir(SF_DIR):
        shutil.copyfile(f"{SF_DIR}/{name}", f"{dst}/{name}")
    return str(dst)


def _halve(sf: str, table: str) -> None:
    """Rewrite one table in place with every other row, so every date,
    type and cell keeps rows but fewer of them."""
    path = f"{sf}/{table}.parquet"
    t = pq.read_table(path)
    pq.write_table(t.take(list(range(0, t.num_rows, 2))), path)


def _rows(spark, key: str, sf: str) -> list:
    return sorted(map(tuple, QUERIES[key](spark, sf).collect()), key=repr)


@pytest.mark.parametrize("key", sorted(STALE_PROBES))
def test_rewritten_input_is_not_served_stale(spark, tmp_path, key):
    """Call the key, rewrite its input table in place at half its rows,
    call it again: the answer must equal a cold cache's, not the old one."""
    table, site = STALE_PROBES[key]
    sf = _copy_fixture(tmp_path / "sf")
    before = _rows(spark, key, sf)
    _halve(sf, table)
    after = _rows(spark, key, sf)
    cache.clear()
    if site is not None:
        cache.drop((site, sf))
    cold = _rows(spark, key, sf)
    assert cold != before, "the rewrite must change this key's answer"
    assert after == cold


def _persisted_rdds(spark) -> int:
    """Persisted RDDs, localCheckpoint truncation points included: the
    plans cut their lineage with those, and ``cache.checkpoint`` holds
    each so ``clear_caches`` releases it, not a later JVM GC."""
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_clear_caches_releases_every_persist(spark):
    """The memoized keys persist relations and the loop-carried ones
    localCheckpoint theirs through ``cache``; ``clear_caches`` must
    release all of them."""
    clear_caches()
    n0 = _persisted_rdds(spark)
    for key in (
        "llm_dedup_ngram",
        "llm_dedup_minhash",
        "llm_dedup_clusters",
        "llm_dedup_semantic",
        "llm_serving_e2e",
        "llm_unigram_tokenizer",
        "llm_domain_authority",
        "ts_anomaly_mad",
        "ts_downsample_lttb_hier",
    ):
        QUERIES[key](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
    assert _persisted_rdds(spark) > n0
    clear_caches()
    assert _persisted_rdds(spark) == n0


def test_checkpoint_outlives_a_later_checkpoint(spark):
    """A checkpoint stays readable after later checkpoints are made, even
    ones built from it; ``release`` frees one at once, and
    ``clear_caches`` releases the rest."""
    clear_caches()
    n0 = _persisted_rdds(spark)
    first = cache.checkpoint(spark.range(10).selectExpr("id * 2 AS x"))
    second = cache.checkpoint(first.selectExpr("x + 1 AS x"))
    third = cache.checkpoint(first.selectExpr("x + 2 AS x"))
    assert _persisted_rdds(spark) == n0 + 3
    assert sorted(r.x for r in first.collect()) == list(range(0, 20, 2))
    assert sorted(r.x for r in second.collect()) == list(range(1, 20, 2))
    cache.release(third)
    assert _persisted_rdds(spark) == n0 + 2
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        third.collect()
    clear_caches()
    assert _persisted_rdds(spark) == n0


#: keys whose builds localCheckpoint; each is built twice before either
#: plan runs
REBUILD_KEYS = (
    "llm_dedup_minhash",
    "llm_dedup_semantic",
    "llm_dedup_clusters",
    "llm_domain_authority",
    "ts_anomaly_mad",
    "ts_downsample_lttb_hier",
    "llm_ann_batch",
)


@pytest.mark.parametrize("key", REBUILD_KEYS)
def test_built_plan_survives_a_rebuild(spark, tmp_path, key):
    """Build a key on the fixture, build it again on a copy of the
    fixture, then run both plans: building again must not release what
    the first plan reads, and both must give the same answer."""
    sf = _copy_fixture(tmp_path / "sf")
    first = QUERIES[key](spark, SF_DIR)
    second = QUERIES[key](spark, sf)
    rows = sorted(map(tuple, first.collect()), key=repr)
    assert rows == sorted(map(tuple, second.collect()), key=repr)
    clear_caches()


def test_replaced_layout_scratch_dir_is_removed(spark, tmp_path):
    from hive3_replication_spark.sources.readers import binary_docs_path

    sf = _copy_fixture(tmp_path / "sf")
    old = binary_docs_path(spark, sf)
    assert binary_docs_path(spark, sf) == old  # unchanged input: a hit
    st = os.stat(f"{sf}/documents.parquet")
    os.utime(f"{sf}/documents.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    new = binary_docs_path(spark, sf)
    assert new != old and os.path.isdir(new)
    assert not os.path.exists(old)
    cache.drop(("binary_docs", sf))
    assert not os.path.exists(new)


def test_entry_starts_no_thread(spark):
    import __spark_entry__ as entry_module

    before = {t.ident for t in threading.enumerate()}
    entry_module.entry(spark)
    started = [
        t.name for t in threading.enumerate() if t.ident not in before
    ]
    assert "h3r-prewarm" not in started, started
    assert not any(t.name == "h3r-prewarm" for t in threading.enumerate())


def test_fan_out_memo_does_not_keep_its_probe(spark):
    """``fan_out`` memoizes a probe's split count, but a probe nothing
    else references is collected with its JVM plan."""
    from hive3_replication_spark.util import fan_out

    probe = spark.range(3)
    fan_out(spark.range(10), probe)
    ref = weakref.ref(probe)
    del probe
    gc.collect()
    assert ref() is None


def test_expr_memo_key_names_its_constants(spark, monkeypatch):
    """A memoized tree built from a module constant must miss when the
    constant changes (here SEM_DIMS, which sizes the semantic vectors)."""
    from hive3_replication_spark.llm import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(3)
    width = dedup.SEM_DIMS
    assert len(dedup._sem_vectors(docs).first()["x"]) == width
    monkeypatch.setattr(dedup, "SEM_DIMS", 8)
    assert len(dedup._sem_vectors(docs).first()["x"]) == 8


def test_memoized_alias_resolves_to_fresh_expr_ids(spark):
    """One memoized ``F.count("*").alias("n")`` used in two independently
    built plans resolves to a distinct exprId in each: the Alias is
    unresolved until analysis, which mints the id per plan."""
    from pyspark.sql import functions as F

    from hive3_replication_spark.util import expr_memo

    def missed():
        raise AssertionError("the tree is not memoized under this key")

    expr_memo(("test_alias_n",), lambda: F.count("*").alias("n"))
    n = expr_memo(("test_alias_n",), missed)

    def n_expr_id(df) -> int:
        out = df._jdf.queryExecution().analyzed().output()
        return next(
            out.apply(i).exprId().id()
            for i in range(out.size())
            if out.apply(i).name() == "n"
        )

    one = spark.range(5).groupBy().agg(n)
    two = spark.range(7).selectExpr("id % 2 AS g").groupBy("g").agg(n)
    assert n_expr_id(one) != n_expr_id(two)


def test_table_dir_rewritten_in_place_is_not_served_stale(spark, tmp_path):
    """Rewriting a file inside a table directory leaves the directory's
    mtime unchanged; ``load_table`` must still see the new schema."""
    import pyarrow as pa

    from hive3_replication_spark.catalog import load_table

    sf = tmp_path / "sf"
    (sf / "nation.parquet").mkdir(parents=True)
    part = sf / "nation.parquet" / "part-0.parquet"
    pq.write_table(pa.table({"n_nationkey": [0, 1]}), part)
    assert load_table(spark, str(sf), "nation").columns == ["n_nationkey"]
    mtime = os.stat(sf / "nation.parquet").st_mtime_ns
    pq.write_table(
        pa.table({"n_nationkey": [0, 1], "n_name": ["A", "B"]}), part
    )
    assert os.stat(sf / "nation.parquet").st_mtime_ns == mtime
    df = load_table(spark, str(sf), "nation")
    assert df.columns == ["n_nationkey", "n_name"]
    assert sorted(map(tuple, df.collect())) == [(0, "A"), (1, "B")]
