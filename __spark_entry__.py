"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``hive3_replication_spark`` (see SURVEY.md §2
for the operator inventory and registry.py for the mapping).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hive3_replication_spark import registry
from hive3_replication_spark.operators.joins import join_watermark_compare


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 step 2): the status probe as a query —
    per-database source watermark vs target watermark with the reference's
    equal/behind/ahead classification (A1 + J1 + F7 over the events stream).

    Side-effect free: it builds one lazy plan over the sf0.001 fixtures
    and starts no thread. Layouts and memoized relations are built by the
    first query that needs them (``hive3_replication_spark.cache``).
    """
    return join_watermark_compare(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.build_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key — since round 3 EVERY
    ``queries()`` key has one (the formerly rows-only seeded-hash/ANN
    paths were made SQL-reproducible: md5-hex base hashes, literal
    permutation/plane constants, quantized-int64 centroid sums)."""
    return registry.build_oracles()
