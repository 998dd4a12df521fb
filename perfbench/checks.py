"""Correctness checks, run outside the timed window.

Analytics outputs are compared with the key's DuckDB oracle
(``registry.build_oracles()``): rows are put in a canonical order and
compared cell by cell, floats with a relative tolerance. Replication
targets are compared with an independent DuckDB recomputation of the
replicated state and with the source's static tables.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

#: Relative tolerance for floats: the engine and DuckDB may sum in
#: different orders, so the last bits can differ.
FLOAT_REL_TOL = 1e-9
#: Significant digits of the floats in the key that orders rows. Coarser
#: than the tolerance, so two engines' last bits never reorder rows.
SORT_DIGITS = 6


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("n", int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        if f.is_integer() and abs(f) < 2**53:
            return ("n", int(f))
        return ("n", f)
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("t", dt.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (bytes, bytearray)):
        return ("x", bytes(v).hex())
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("l", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), _cell(x)) for k, x in v.items())))
    return ("s", str(v))


def _coarse(c):
    """A cell with its numbers cut to ``SORT_DIGITS``: the row-order key."""
    if c is None:
        return c
    tag, v = c
    if tag == "n":
        return (tag, float(f"{v:.{SORT_DIGITS}g}"))
    if tag == "l":
        return (tag, tuple(_coarse(x) for x in v))
    if tag == "d":
        return (tag, tuple((k, _coarse(x)) for k, x in v))
    return c


def canonical_rows(pdf) -> tuple[list[str], list[tuple]]:
    """A pandas frame's columns by name and its rows in a canonical order."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_cell(_unbox(v)) for v in rec)
        for rec in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: (repr(tuple(map(_coarse, r))), repr(r)))
    return cols, rows


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if a[0] != b[0]:
        return False
    if a[0] == "n":
        return math.isclose(a[1], b[1], rel_tol=FLOAT_REL_TOL, abs_tol=1e-12)
    if a[0] == "l":
        return len(a[1]) == len(b[1]) and all(map(_same, a[1], b[1]))
    if a[0] == "d":
        return len(a[1]) == len(b[1]) and all(
            ka == kb and _same(va, vb) for (ka, va), (kb, vb) in zip(a[1], b[1])
        )
    return a == b


def frames_mismatch(got_pdf, want_pdf) -> str | None:
    """None when two frames hold the same rows (in any order), else why."""
    got_cols, got = canonical_rows(got_pdf)
    want_cols, want = canonical_rows(want_pdf)
    if got_cols != want_cols:
        return f"columns {got_cols} != oracle {want_cols}"
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not all(map(_same, g, w)):
            return f"row {i} differs: {g!r} vs oracle {w!r}"[:300]
    return None


def _unbox(v):
    """pandas NaT / Timestamp / numpy datetime to plain Python values."""
    import pandas as pd

    if v is pd.NaT:
        return None
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v).to_pydatetime()
    return v


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per parquet table of ``data_dir``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for entry in sorted(os.listdir(data_dir)):
        if entry.endswith(".parquet"):
            name = entry[: -len(".parquet")]
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM '{data_dir}/{entry}'"
            )
    return con


def analytics_mismatch(spark_pdf, con, oracle_sql: str) -> str | None:
    """None when the engine's frame matches the oracle, else a reason."""
    return frames_mismatch(spark_pdf, con.sql(oracle_sql).df())


# -- replication ---------------------------------------------------------------


def expected_state_sql(events_glob: str) -> str:
    """Replay semantics, written independently of the engine: the latest
    event per user wins, and a latest ``error`` event deletes the user."""
    return f"""
        SELECT user_id, event_id AS last_event_id, value AS state_value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM read_parquet('{events_glob}')
        ) WHERE rn = 1 AND event_type <> 'error'
    """


def repl_mismatches(
    source_root: str, target_root: str, watermark: int, dropped: set[str]
) -> list[str]:
    """Every way the target of one database differs from its source."""
    problems: list[str] = []
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    state_dir = f"{target_root}/user_state_v{watermark}"
    if not os.path.isdir(state_dir):
        return [f"no state version at watermark {watermark}"]
    want = sorted(con.sql(
        expected_state_sql(f"{source_root}/events.parquet/*.parquet")
    ).fetchall())
    got = sorted(con.sql(
        f"SELECT user_id, last_event_id, state_value "
        f"FROM read_parquet('{state_dir}/*.parquet')"
    ).fetchall())
    if got != want:
        problems.append(
            f"user_state has {len(got)} rows, recomputation {len(want)}; "
            f"{len(set(got) ^ set(want))} differ"
        )
    con.close()
    for entry in sorted(os.listdir(source_root)):
        name = entry[: -len(".parquet")]
        if name == "events":
            continue
        tgt = f"{target_root}/{name}"
        if not os.path.exists(tgt):
            problems.append(f"static table {name} missing at target")
        elif not pq.read_table(f"{source_root}/{entry}").equals(pq.read_table(tgt)):
            problems.append(f"static table {name} differs from source")
    for name in sorted(dropped):
        if os.path.exists(f"{target_root}/{name}"):
            problems.append(f"dropped table {name} still at target")
    return problems
