"""Seeded input generator for the benchmark.

Every table is synthesized from ``numpy.random.default_rng([seed, salt])``
with the schemas of the engine's fixture tables (FIXTURES.md): the same
seed gives byte-identical parquet payloads, another seed gives other data.
Nothing is read from outside the generated directories, and the program
under test only ever sees the directories this module writes.

Distributions mirror the fixtures: a 30-word technical vocabulary with
8-100 word documents and 5% planted near-duplicates (a copy of an earlier
document plus one ``dup`` token) and 0.2% exact copies, unit-norm 64-d
Gaussian embeddings with 10 labels, five event types with exponential
values, and TPC-H-shaped static tables whose foreign keys all resolve.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO")
PART_ADJ = ("blue", "cold", "hot", "red", "small", "new", "old", "large")
PART_NOUN = ("ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMB_DIM = 64
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002

#: Tables the replication source carries besides the event stream; these
#: are the "static" tables ``sync_static_tables`` byte-copies.
STATIC_TABLES = ("region", "nation", "customer", "supplier", "part", "orders")
#: The table each replication source drops once per run.
DROPPED_TABLE = "supplier"
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 in microseconds


@dataclass(frozen=True)
class Scale:
    """Row counts of the generated tables (the fixtures' sf0.01 shape; the
    corpus is the fixtures' 500 documents and 500 embeddings)."""

    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    events: int = 10000
    users: int = 1500
    documents: int = 500
    embeddings: int = 500


def rng_for(seed: int, *salt: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose)."""
    return np.random.default_rng([seed, *salt])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _ts_us(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), type=pa.timestamp("us"))


def _days_us(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return _ts_us(base + rng.integers(0, days, n) * 86_400_000_000)


def dimension_tables(rng: np.random.Generator, sc: Scale) -> dict[str, pa.Table]:
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(sc.customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(sc.customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, sc.customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, sc.customers), 2),
        "c_mktsegment": rng.choice(SEGMENTS, sc.customers),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(sc.suppliers), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(sc.suppliers)],
        "s_nationkey": pa.array(rng.integers(0, 25, sc.suppliers), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, sc.suppliers), 2),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(np.arange(sc.parts), pa.int64()),
        "p_name": rng.choice(names, sc.parts),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, sc.parts)],
        "p_type": rng.choice(PART_TYPES, sc.parts),
        "p_size": pa.array(rng.integers(1, 51, sc.parts), pa.int32()),
        "p_retailprice": np.round(rng.integers(9000, 10000, sc.parts) / 10.0, 1),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part,
    }


def orders_table(rng: np.random.Generator, sc: Scale) -> pa.Table:
    n = sc.orders
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, sc.customers, n), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n), 2),
        "o_orderdate": _days_us(rng, n, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(PRIORITIES, n),
    })


def lineitem_table(rng: np.random.Generator, orders: pa.Table, sc: Scale) -> pa.Table:
    """1-7 lines per order (4 on average, the fixtures' lineitem:orders
    ratio); every line ships 1-121 days after its order."""
    per_order = rng.integers(1, 8, orders.num_rows)
    keys = np.repeat(orders.column("o_orderkey").to_numpy(), per_order)
    n = len(keys)
    starts = np.cumsum(per_order) - per_order
    linenumber = np.arange(n) - np.repeat(starts, per_order) + 1
    odate = np.repeat(
        orders.column("o_orderdate").cast(pa.int64()).to_numpy(), per_order
    )
    qty = rng.integers(1, 51, n).astype(float)
    return pa.table({
        "l_orderkey": pa.array(keys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sc.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sc.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(("R", "A", "N"), n),
        "l_linestatus": rng.choice(("O", "F"), n),
        "l_shipdate": _ts_us(odate + rng.integers(1, 122, n) * 86_400_000_000),
    })


def events_table(
    rng: np.random.Generator, first_id: int, n: int, users: int
) -> pa.Table:
    """``n`` change events with ids ``first_id .. first_id+n-1``; event time
    advances with the id so a delta is always newer than its base."""
    ids = np.arange(first_id, first_id + n)
    ts = EVENT_T0_US + ids * 25_920_000 + rng.integers(0, 25_920_000, n)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })


def documents_table(rng: np.random.Generator, n: int, first_id: int = 0) -> pa.Table:
    """The seed varies the content only. What the dedup cost depends on --
    the length distribution and the number of near and exact duplicates --
    is the same for every seed, so runs on other seeds do the same work."""
    n_near, n_exact = round(n * NEAR_DUP_SHARE), max(1, round(n * EXACT_DUP_SHARE))
    lengths = rng.permutation(np.linspace(8, 100, n).round().astype(int))
    kind = np.zeros(n, dtype=int)
    dup_at = rng.choice(np.arange(11, n), n_near + n_exact, replace=False)
    kind[dup_at[:n_near]], kind[dup_at[n_near:]] = 1, 2
    texts: list[str] = []
    for i in range(n):
        if kind[i] == 1:  # near-dup of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif kind[i] == 2:  # exact copy
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, lengths[i])))
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def star_schema(out_dir: str, seed: int, sc: Scale = Scale()) -> str:
    """The warm star schema the relational report keys re-read every round:
    the static tables, lineitem and an event stream, one file each."""
    rng = rng_for(seed, 4)
    tables = dimension_tables(rng, sc)
    tables["orders"] = orders_table(rng, sc)
    tables["lineitem"] = lineitem_table(rng, tables["orders"], sc)
    tables["events"] = events_table(rng, 0, sc.events, sc.users)
    for name, t in tables.items():
        _write(t, f"{out_dir}/{name}.parquet")
    return out_dir


def corpus(out_dir: str, seed: int, round_no: int, sc: Scale = Scale()) -> str:
    """A fresh documents + embeddings corpus for one ``analytics`` round."""
    rng = rng_for(seed, 2, round_no)
    _write(documents_table(rng, sc.documents), f"{out_dir}/documents.parquet")
    _write(embeddings_table(rng, sc.embeddings), f"{out_dir}/embeddings.parquet")
    return out_dir


class ReplSource:
    """One seeded source database for the replication workload: the static
    tables plus an append-only event stream (one parquet file per delta)."""

    def __init__(self, root: str, seed: int, db_no: int, sc: Scale):
        self.root = root
        self.sc = sc
        self.rng = rng_for(seed, 3, db_no)
        self.next_id = 0
        self.n_files = 0
        tables = dimension_tables(self.rng, sc)
        tables["orders"] = orders_table(self.rng, sc)
        self.versions = dict.fromkeys(tables, 0)
        for name, t in tables.items():
            _write(t, self._part(name))
        self.append_events(sc.events)

    def _part(self, name: str) -> str:
        return f"{self.root}/{name}.parquet/part-{self.versions[name]:05d}.parquet"

    def append_events(self, n: int) -> None:
        t = events_table(self.rng, self.next_id, n, self.sc.users)
        _write(t, f"{self.root}/events.parquet/part-{self.n_files:05d}.parquet")
        self.next_id += n
        self.n_files += 1

    def rewrite_static(self, name: str) -> None:
        """Rewrite one static table the way a warehouse writer does: the
        payload is replaced by a new immutable part file (one more row)."""
        old_path = self._part(name)
        old = pq.read_table(old_path)
        self.versions[name] += 1
        _write(pa.concat_tables([old, old.slice(0, 1)]), self._part(name))
        os.remove(old_path)

    def drop(self, name: str) -> None:
        shutil.rmtree(f"{self.root}/{name}.parquet")

    @property
    def max_event_id(self) -> int:
        return self.next_id - 1
