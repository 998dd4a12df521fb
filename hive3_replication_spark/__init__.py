"""hive3_replication_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of nabeelhdp/Hive3_replication.

The reference (/root/reference) is a bash orchestrator that replicates a Hive
database between clusters via Hive ``REPL DUMP`` / ``REPL LOAD`` / ``REPL
STATUS`` (see SURVEY.md). This package re-expresses that capability surface —
plus the LLM-data-pipeline extensions mandated by BASELINE.json — as idiomatic
Spark DataFrame / Spark SQL / Structured Streaming code designed for a
1000-executor, 100 TB deployment while remaining testable on ``local[*]``.

Layout:

- ``session``     SparkSession factory with scale-oriented defaults
- ``catalog``     table loading / schema normalization (ns-timestamp parquet)
- ``cache``       one fingerprint-keyed cache for derived layouts, plan
                  choices and persisted relations
- ``operators``   relational operator library (SURVEY.md §2.2-2.8, §2.10)
- ``llm``         dedup / similarity / text-analysis / multimodal (§2.11)
- ``repl``        the replication pipeline itself (§3): snapshot, incremental,
                  watermark ladder, run registry
- ``streaming``   incremental/windowed operators (§2.9), batch + streaming
- ``registry``    maps every operator to a ``queries()`` entry + DuckDB oracle
"""

__version__ = "0.1.0"
