"""One process-wide cache for derived layouts, plan choices and persisted
relations.

An entry lives in a *slot* and is valid for a *key*:

- A slot bounds what is held. Layouts and plan choices take one slot per
  (site, root dir); a persisted relation takes one slot per site, so a new
  corpus replaces the old one.
- A key is the site's governing parameters plus a content fingerprint of
  the input tables the site reads (``inputs``), so a table rewritten in
  place under the same path misses instead of serving the old answer.

When a slot is asked for under a different key, its old value is disposed
first: a persisted relation is unpersisted, a layout's scratch dir is
removed. One re-entrant lock guards the table and is held across each
build, so a value is built once per key even under concurrent callers, and
a build may itself read the cache (the pair relation reads the shingle
relation).
"""

from __future__ import annotations

import stat
import threading
from collections.abc import Callable
from pathlib import Path
from typing import Any, NamedTuple

from .util import remove_scratch


class _Entry(NamedTuple):
    key: Any
    value: Any
    dispose: Callable[[Any], None] | None
    #: persisted relations are what ``clear()`` drops
    persisted: bool


_LOCK = threading.RLock()
_ENTRIES: dict[Any, _Entry] = {}


def table_fingerprint(path: str | Path) -> tuple | None:
    """Cheap content fingerprint of one table payload: sorted (relative
    name, size, st_mtime_ns) triples of its files — rsync's quick check.
    The mtime catches a same-size in-place rewrite. A single-file table
    carries an empty relative name. None when the path cannot be stat'ed
    (a remote URI, or no such table)."""
    p = Path(path)
    try:
        st = p.stat()
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_size, st.st_mtime_ns),)
    files = sorted(
        (str(f.relative_to(p)), f.stat())
        for f in p.rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    )
    return tuple((rel, s.st_size, s.st_mtime_ns) for rel, s in files)


def inputs(sf_dir: str, *tables: str) -> tuple:
    """The fingerprint part of a key: one ``table_fingerprint`` per input
    table of ``sf_dir``. An unstatable input contributes None, so the key
    falls back to the path alone."""
    return tuple(table_fingerprint(f"{sf_dir}/{t}.parquet") for t in tables)


def get(
    slot: Any,
    key: Any,
    build: Callable[[], Any],
    dispose: Callable[[Any], None] | None = None,
    persisted: bool = False,
) -> Any:
    """The value in ``slot`` if it was built for ``key``; otherwise dispose
    of the slot's old value, ``build()`` a new one and store it."""
    with _LOCK:
        hit = _ENTRIES.get(slot)
        if hit is not None and hit.key == key:
            return hit.value
        drop(slot)
        value = build()
        _ENTRIES[slot] = _Entry(key, value, dispose, persisted)
        return value


def layout(
    site: str, sf_dir: str, tables: tuple[str, ...], build: Callable[[], str]
) -> str:
    """A derived on-disk layout of ``sf_dir``'s ``tables``: ``build()``
    writes it under a ``util.scratch_dir`` and returns its path. A
    replaced layout's scratch dir is removed."""
    return get((site, sf_dir), inputs(sf_dir, *tables), build, remove_scratch)


def _unpersist(df) -> None:
    df.unpersist(blocking=False)


def relation(site: str, sf_dir: str, build: Callable, *params: Any):
    """The persisted relation ``build()`` derives from ``sf_dir``'s
    documents (the corpus), valid for (corpus, ``params``)."""
    key = (sf_dir, inputs(sf_dir, "documents"), params)
    return get(
        site, key, lambda: build().persist(), _unpersist, persisted=True
    )


def persist(site: str, df):
    """Persist ``df`` in ``site``'s slot, unpersisting the relation the
    previous call left there (a fresh key never matches), so repeated
    invocations hold one cached relation per site instead of leaking one
    per call."""
    return get(site, object(), df.persist, _unpersist, persisted=True)


def peek(slot: Any) -> Any:
    """The value held in ``slot``, or None."""
    with _LOCK:
        hit = _ENTRIES.get(slot)
        return None if hit is None else hit.value


def drop(slot: Any) -> None:
    """Forget ``slot`` and dispose of its value."""
    with _LOCK:
        hit = _ENTRIES.pop(slot, None)
        if hit is not None and hit.dispose is not None:
            hit.dispose(hit.value)


def clear() -> None:
    """Drop every persisted relation. Layouts and plan choices stay: their
    keys carry the input fingerprint, so they cannot go stale."""
    with _LOCK:
        for slot in [s for s, e in _ENTRIES.items() if e.persisted]:
            drop(slot)
