"""Spark's generated-code class cache holds the engine's plan working set.

A query re-run on plans of the same shape must reuse the classes Janino
compiled the first time. At Spark's default of 100 entries one pass over
perfbench's analytics keys (~320 classes) evicts its own classes, so the
next pass compiles them all again.
"""

from __future__ import annotations

import os

import pytest

from hive3_replication_spark.llm.dedup import clear_caches
from hive3_replication_spark.registry import build_queries
from hive3_replication_spark.session import CODEGEN_CACHE_ENTRIES
from perfbench.workloads import LLM_KEYS, SQL_KEYS
from tests.conftest import SF_DIR


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: one histogram update each."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_all(spark, queries) -> None:
    for key in LLM_KEYS + SQL_KEYS:
        queries[key](spark, SF_DIR).write.format("noop").mode("overwrite").save()


@pytest.mark.skipif(
    bool(os.environ.get("H3R_PLAIN_SESSION")),
    reason="a session built outside get_spark keeps Spark's default cache size",
)
def test_second_pass_compiles_nothing(spark):
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert conf == str(CODEGEN_CACHE_ENTRIES)
    queries = build_queries()
    _run_all(spark, queries)
    clear_caches()
    before = _compiles(spark)
    _run_all(spark, queries)
    assert _compiles(spark) - before == 0
