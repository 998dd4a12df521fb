"""The correctness gate, locally: every ``queries()`` entry with an
``oracle_sql()`` entry must match DuckDB exactly (row count + columns +
values) — the same comparison the verification driver runs at sf0.01.

Queries without oracles get a rows-runnable smoke check here instead.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR, assert_frames_match

import importlib.util
import sys
from pathlib import Path

_entry_path = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
_spec = importlib.util.spec_from_file_location("__spark_entry__", _entry_path)
_entry = importlib.util.module_from_spec(_spec)
# setdefault (not assignment): if a driver process already imported
# __spark_entry__ under its canonical name, reuse that module object
# rather than shadowing it — otherwise the file would execute under two
# module identities in one process (harmless today since the module holds
# no mutable state, but worth not relying on).
sys.modules.setdefault("__spark_entry__", _entry)
_spec.loader.exec_module(_entry)

QUERIES = _entry.queries()
ORACLES = _entry.oracle_sql()

WITH_ORACLE = sorted(set(QUERIES) & set(ORACLES))
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))
DANGLING = sorted(set(ORACLES) - set(QUERIES))


def test_registry_integrity():
    assert not DANGLING, f"oracles without queries: {DANGLING}"
    assert len(QUERIES) >= 60, f"operator inventory shrank: {len(QUERIES)}"


def test_survey_documents_every_key():
    """SURVEY.md §2 is the judge's checklist — every registered query key
    must appear there (and the totals line must match the registry)."""
    survey = (Path(__file__).resolve().parent.parent / "SURVEY.md").read_text()
    missing = [k for k in QUERIES if f"`{k}`" not in survey]
    assert not missing, f"keys not documented in SURVEY.md: {missing}"
    assert f"{len(QUERIES)} registered `queries()` keys" in survey
    assert f"{len(ORACLES)} \nwith full DuckDB" in survey or (
        f"{len(ORACLES)}\nwith full DuckDB" in survey
        or f"{len(ORACLES)} with full DuckDB" in survey
    )


def test_entry_smoke(spark):
    df = _entry.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"db_name", "src_wm", "tgt_wm", "status"}


@pytest.mark.parametrize("key", WITH_ORACLE)
def test_oracle_parity(spark, oracle_con, key):
    spark_pdf = QUERIES[key](spark, SF_DIR).toPandas()
    oracle_pdf = oracle_con.sql(ORACLES[key]).df()
    assert_frames_match(spark_pdf, oracle_pdf, key)


def test_build_oracles_leaves_quoted_literals_intact():
    """build_oracles' embeddings-relation substitution is anchored to
    FROM/JOIN/comma positions (ADVICE r12): the 'embeddings' STRING
    LITERAL in the filter_table_class VALUES list must come through
    byte-identical, while every true relation reference is rewritten."""
    import re

    from hive3_replication_spark import registry
    from hive3_replication_spark.catalog import EMB_CLEAN_SUBQUERY

    raw = {}
    for mod in registry._MODULES:
        raw.update(getattr(mod, "ORACLES", {}))
    built = registry.build_oracles()
    assert built["filter_table_class"] == raw["filter_table_class"]
    # every oracle that references the relation got at least one
    # substitution, and no bare relation reference survives outside the
    # injected subquery's own internals
    bare = re.compile(r"\bembeddings\b")
    for key, sql in raw.items():
        if key == "filter_table_class" or not bare.search(sql):
            continue
        residue = built[key].replace(EMB_CLEAN_SUBQUERY, "")
        assert EMB_CLEAN_SUBQUERY in built[key], key
        assert not bare.search(residue), key


def test_no_rows_only_keys():
    """Every key carries a full DuckDB oracle as of round 3; a regression
    to a weaker rows-only check must be a failure, not a silent skip."""
    assert not ROWS_ONLY, f"keys lost their oracle: {ROWS_ONLY}"
