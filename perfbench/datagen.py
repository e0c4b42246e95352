"""Seeded input generator for the benchmark.

Writes one parquet file per table the engine reads (``<name>.parquet``,
one row group, snappy, tz-naive microsecond timestamps) with the schema
and value shapes of the engine's test data. Everything is drawn from
one ``numpy`` generator seeded by ``--seed``, and the files carry no
writer metadata that varies between runs, so the same seed gives
byte-identical files (``file_hashes`` checks it).

Sizes are set by ``Scale``. ``FULL`` is what the timed workloads use;
``TINY`` is the smoke-test size.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000
_DAY_US = 86_400 * 1_000_000
_DATE_LO_US = 788_918_400_000_000  # 1995-01-01
_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "green", "new")
_PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "wire")
_LANGS = ("en", "zh", "de", "fr", "es")
_LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)


@dataclass(frozen=True)
class Scale:
    users: int
    events: int
    orders: int
    lines_per_order: int
    parts: int
    customers: int
    suppliers: int
    documents: int
    embeddings: int


FULL = Scale(
    users=150, events=10_000, orders=15_000, lines_per_order=4, parts=2_000,
    customers=1_500, suppliers=100, documents=1_000, embeddings=1_000,
)
TINY = Scale(
    users=15, events=1_000, orders=1_500, lines_per_order=4, parts=200,
    customers=150, suppliers=10, documents=200, embeddings=200,
)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng: np.random.Generator, days: int, n: int) -> pa.Array:
    us = _DATE_LO_US + rng.integers(0, days, n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def events_table(rng: np.random.Generator, n: int, users: int, first_id: int = 0) -> pa.Table:
    """``n`` events with ids ``first_id..first_id+n-1`` in time order over
    a 30-day span, event types in equal shares."""
    ts = np.sort(EVENTS_START_US + rng.integers(0, EVENTS_SPAN_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _lineitem(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.orders * s.lines_per_order
    flags = np.array([("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "O"), ("R", "F")])
    fl = flags[rng.integers(0, len(flags), n)]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, s.orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(fl[:, 0]),
        "l_linestatus": pa.array(fl[:, 1]),
        "l_shipdate": _dates(rng, 2_500, n),
    })


def _orders(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.orders
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1_000.0, 500_000.0, n)),
        "o_orderdate": _dates(rng, 2_400, n),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n)]),
    })


def _part(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.parts
    keys = np.arange(n)
    names = [
        f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
        for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
    ]
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(types[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
    })


def _customer(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.customers
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9_999.99, n)),
        "c_mktsegment": pa.array(seg[rng.integers(0, 5, n)]),
    })


def _supplier(rng: np.random.Generator, s: Scale) -> pa.Table:
    n = s.suppliers
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9_999.99, n)),
    })


def _nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })


def _region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })


def _documents(rng: np.random.Generator, s: Scale) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary; about 1% are exact
    copies and 2% are near-copies (two words swapped out) of an earlier
    document, so the dedup queries have pairs to find."""
    n = s.documents
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.03:
            words = texts[rng.integers(0, i)].split()
            for pos in rng.integers(0, len(words), 2):
                words[pos] = _WORDS[rng.integers(0, len(_WORDS))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)]),
        "source": pa.array([f"src{k % 20}" for k in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, s: Scale) -> pa.Table:
    """Unit-norm float32 vectors of dimension 64 around 10 label centroids."""
    n, dim = s.embeddings, 64
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, dim))
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def generate(out_dir: str, seed: int, scale: Scale) -> None:
    """Write every table for ``seed`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": events_table(rng, scale.events, scale.users),
        "lineitem": _lineitem(rng, scale),
        "orders": _orders(rng, scale),
        "part": _part(rng, scale),
        "customer": _customer(rng, scale),
        "supplier": _supplier(rng, scale),
        "nation": _nation(),
        "region": _region(),
        "documents": _documents(rng, scale),
        "embeddings": _embeddings(rng, scale),
    }
    for name, table in tables.items():
        write_parquet(table, os.path.join(out_dir, f"{name}.parquet"))


def file_hashes(directory: str) -> dict[str, str]:
    """sha256 of every regular file directly under ``directory``."""
    out = {}
    for name in sorted(os.listdir(directory)):
        path = os.path.join(directory, name)
        if os.path.isfile(path):
            with open(path, "rb") as fh:
                out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out
