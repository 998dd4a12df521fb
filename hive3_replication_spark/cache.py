"""One process-wide cache for derived layouts, plan choices and persisted
relations.

An entry lives in a *slot* and is valid for a *key*:

- A slot bounds what is held. Layouts and plan choices take one slot per
  (site, root dir), per-file answers one per (site, table); a persisted
  relation takes one slot per site, so a new corpus replaces the old one.
- A key is the site's governing parameters plus a content fingerprint of
  the input tables the site reads (``inputs``), so a table rewritten in
  place under the same path misses instead of serving the old answer.

When a slot is asked for under a different key, its old value is disposed
first: a persisted relation is unpersisted, a layout's scratch dir is
removed. One re-entrant lock guards the table and is held across each
build, so a value is built once per key even under concurrent callers, and
a build may itself read the cache (the pair relation reads the shingle
relation).

A local checkpoint (``checkpoint``) takes no slot. Its lineage is cut, so
a plan that reads a released checkpoint fails instead of recomputing;
building a key again must not break the plan an earlier build returned.
A checkpoint therefore lives as long as some plan reads it, and Spark's
ContextCleaner releases it once the JVM collects the last such plan. The
cache records only its RDD id, so that ``clear()`` can release it at
once; a loop may ``release`` its dead previous round itself.
"""

from __future__ import annotations

import os
import stat
import threading
from collections.abc import Callable
from pathlib import Path
from typing import Any, NamedTuple

from pyspark import SparkContext

from .util import remove_scratch


class _Entry(NamedTuple):
    key: Any
    value: Any
    dispose: Callable[[Any], None] | None
    #: relations held in executor storage are what ``clear()`` drops
    persisted: bool


_LOCK = threading.RLock()
_ENTRIES: dict[Any, _Entry] = {}
#: RDD ids of the local checkpoints ``clear()`` releases
_CHECKPOINTS: set[int] = set()


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
    return tuple(sorted(_data_files(str(p), "")))


def _data_files(root: str, rel: str):
    """(relative name, size, st_mtime_ns) of every file under ``root`` whose
    name does not start with ``.`` or ``_``. One ``scandir`` per directory
    and one ``stat`` per file: an append-only table gains a file per
    write, and its fingerprint is taken on every read."""
    with os.scandir(root) as entries:
        for e in entries:
            if e.is_dir(follow_symlinks=False):
                yield from _data_files(e.path, f"{rel}{e.name}/")
            elif e.is_file() and not e.name.startswith((".", "_")):
                s = e.stat()
                yield f"{rel}{e.name}", s.st_size, s.st_mtime_ns


def per_file(site: str, path: str | Path, read: Callable[[Path], Any]):
    """``read(f)`` for each data file of the table at ``path``, or None when
    ``path`` cannot be stat'ed. A file's answer is kept in the (site,
    table) slot under its ``table_fingerprint`` triple, so a table that
    only gains files is read one new file at a time and a file rewritten
    in place is read again. Every file is stat'ed before it is read, so a
    rewrite racing the read is seen on the next call."""
    fp = table_fingerprint(path)
    if fp is None:
        return None
    slot = (site, str(path))
    with _LOCK:
        old = peek(slot) or {}
        new = {t: old[t] if t in old else read(Path(path, t[0])) for t in fp}
        _ENTRIES[slot] = _Entry(None, new, None, persisted=False)
    return list(new.values())


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


def _checkpoint_rdd(df):
    # a local checkpoint's plan is a LogicalRDD over the checkpointed RDD;
    # Dataset.unpersist would not find it in the cache manager
    return df._jdf.logicalPlan().rdd()


def checkpoint(df):
    """``df.localCheckpoint()``, recorded for ``clear()``. Only the RDD id
    is kept, so the cache never holds the checkpoint alive."""
    value = df.localCheckpoint()
    with _LOCK:
        _CHECKPOINTS.add(_checkpoint_rdd(value).id())
    return value


def release(df) -> None:
    """Release the checkpoint ``df`` now; a plan reading it fails after."""
    rdd = _checkpoint_rdd(df)
    with _LOCK:
        _CHECKPOINTS.discard(rdd.id())
    rdd.unpersist(False)


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
    """Drop every persisted relation and release every local checkpoint
    still held. Layouts and plan choices stay: their keys carry the input
    fingerprint, so they cannot go stale."""
    with _LOCK:
        for slot in [s for s, e in _ENTRIES.items() if e.persisted]:
            drop(slot)
        sc = SparkContext._active_spark_context
        if sc is not None:
            held = sc._jsc.getPersistentRDDs()
            for rdd_id in _CHECKPOINTS:
                rdd = held.get(rdd_id)
                if rdd is not None:
                    rdd.unpersist(False)
        _CHECKPOINTS.clear()
