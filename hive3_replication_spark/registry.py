"""Central operator registry: every implemented operator from SURVEY.md §2,
mapped to a ``queries()`` callable and (where SQL-expressible) a DuckDB
oracle. ``__spark_entry__.py`` is a thin re-export of this module.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .llm import dedup as _dedup
from .llm import multimodal as _multimodal
from .llm import pipeline as _llm_pipeline
from .llm import retrieval as _retrieval
from .llm import sampling as _sampling
from .llm import similarity as _similarity
from .llm import text as _text
from .llm import web as _web
from .operators import aggregates as _aggregates
from .operators import filters as _filters
from .operators import joins as _joins
from .operators import reshape as _reshape
from .operators import scalars as _scalars
from .operators import skew as _skew
from .operators import sorts_sets as _sorts_sets
from .operators import sql_queries as _sql_queries
from .operators import timeseries as _timeseries
from .operators import udfs as _udfs
from .operators import windows as _windows
from .sources import readers as _readers
from .sources import sinks as _sinks
from .streaming import batch_ops as _batch_ops

_MODULES = (
    _readers,
    _sinks,
    _filters,
    _joins,
    _aggregates,
    _windows,
    _sorts_sets,
    _skew,
    _sql_queries,
    _reshape,
    _timeseries,
    _scalars,
    _udfs,
    _batch_ops,
    _text,
    _dedup,
    _similarity,
    _sampling,
    _retrieval,
    _web,
    _multimodal,
    _llm_pipeline,
)

QueryFn = Callable[[SparkSession, str], DataFrame]


def build_queries() -> dict[str, QueryFn]:
    """Every module's query functions, keyed by name in name order."""
    out: dict[str, QueryFn] = {}
    for mod in _MODULES:
        for name, fn in mod.QUERY_FNS.items():
            if name in out:  # pragma: no cover - registry integrity
                raise ValueError(f"duplicate query key: {name}")
            out[name] = fn
    return dict(sorted(out.items()))


#: Matches the embeddings RELATION wherever oracle SQL references it —
#: anchored to the three relation positions (FROM / JOIN / comma-join,
#: aliased or not) so a quoted STRING LITERAL containing the word (e.g.
#: the filter_table_class VALUES list) is never rewritten (ADVICE r12: a
#: quote sits between the comma and the word there, which ``\s*`` cannot
#: cross). The singular column name ``embedding`` does not match the
#: word boundary.
_EMB_REF = re.compile(r"(?i)((?:\bFROM|\bJOIN|,)\s*)embeddings\b")


def build_oracles() -> dict[str, str]:
    """Assemble every module's oracle SQL, then apply the table-level
    degenerate-embedding policy (catalog.load_embeddings /
    catalog.EMB_CLEAN_SUBQUERY) mechanically to each reference of the
    ``embeddings`` relation — one substitution site so the engine's
    cleaned loader and ALL 20+ oracle texts can never drift (hostile-row
    fuzz wave 2, round 12). re.sub is single-pass, so the subquery's own
    ``FROM embeddings`` is not re-expanded."""
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(getattr(mod, "ORACLES", {}))
    from .catalog import EMB_CLEAN_SUBQUERY

    return {
        k: _EMB_REF.sub(lambda m: m.group(1) + EMB_CLEAN_SUBQUERY, sql)
        if "embeddings" in sql
        else sql
        for k, sql in out.items()
    }
