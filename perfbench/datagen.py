"""Seeded synthetic source tables for the benchmark.

Writes the source tables ``opl_spark.sources.registry.TABLES`` names
(the TPC-H-like star schema, the ``events`` stream, ``documents`` and
``embeddings``) as one parquet file each, with the schemas and value
distributions of the repository's reference test data.  The same seed
and scale factor always give byte-identical tables, so a benchmark run
is reproducible from ``--seed`` alone.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = np.asarray(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split(),
    dtype=object,
)
#: share of documents that are an earlier document plus the word "dup"
_DUP_SHARE = 0.05

_DAY_US = 86_400_000_000


def _epoch_us(d: dt.date) -> int:
    return (d - dt.date(1970, 1, 1)).days * _DAY_US


def _days_between(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """``n`` midnight timestamps drawn uniformly from ``[lo, hi]``."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    return pa.array(_epoch_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


class _Sizes:
    def __init__(self, sf: float):
        self.cust = max(100, int(150_000 * sf))
        self.supp = max(10, int(10_000 * sf))
        self.part = max(100, int(200_000 * sf))
        self.orders = max(1_000, int(1_500_000 * sf))
        self.items = 4 * self.orders
        self.events = max(1_000, int(1_000_000 * sf))
        self.users = max(20, int(15_000 * sf))
        self.docs = max(100, int(50_000 * sf))
        self.vecs = max(100, int(50_000 * sf))


def _region(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })


def _nation(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customer(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n.cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n.cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n.cust), pa.int32()),
        "c_acctbal": _money(rng, n.cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n.cust),
    })


def _supplier(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n.supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n.supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n.supp), pa.int32()),
        "s_acctbal": _money(rng, n.supp, -999.99, 9999.99),
    })


def _part(rng, n: _Sizes) -> pa.Table:
    names = [f"{a} {b}" for a in _ADJECTIVES for b in _NOUNS]
    return pa.table({
        "p_partkey": pa.array(np.arange(n.part), pa.int64()),
        "p_name": _pick(rng, names, n.part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n.part)]),
        "p_type": _pick(rng, _PART_TYPES, n.part),
        "p_size": pa.array(rng.integers(1, 51, n.part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n.part) % 1000) * 0.1, 1),
    })


def _orders(rng, n: _Sizes) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n.cust, n.orders), pa.int64()),
        "o_orderstatus": _pick(rng, _STATUSES, n.orders),
        "o_totalprice": _money(rng, n.orders, 1000.0, 500_000.0),
        "o_orderdate": _days_between(
            rng, n.orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)
        ),
        "o_orderpriority": _pick(rng, _PRIORITIES, n.orders),
    })


def _lineitem(rng, n: _Sizes) -> pa.Table:
    quantity = rng.integers(1, 51, n.items).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n.orders, n.items), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n.part, n.items), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n.supp, n.items), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n.items), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900.0, 2100.0, n.items), 2),
        "l_discount": rng.integers(0, 11, n.items) / 100.0,
        "l_tax": rng.integers(0, 9, n.items) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n.items),
        "l_linestatus": _pick(rng, ["F", "O"], n.items),
        "l_shipdate": _days_between(
            rng, n.items, dt.date(1995, 1, 2), dt.date(2001, 11, 4)
        ),
    })


def _events(rng, n: _Sizes) -> pa.Table:
    # one month of strictly increasing arrival times
    gaps = rng.integers(1, 2 * 30 * _DAY_US // n.events, n.events)
    ts = _epoch_us(dt.date(2024, 1, 1)) + np.cumsum(gaps)
    return pa.table({
        "event_id": pa.array(np.arange(n.events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n.users, n.events), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n.events),
        "value": _money(rng, n.events, 0.01, 500.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n.events)]),
    })


def _documents(rng, n: _Sizes) -> pa.Table:
    texts = [
        " ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)])
        for k in rng.integers(10, 100, n.docs)
    ]
    # near-duplicates: a later document repeats an earlier one plus "dup",
    # so the set-similarity and MinHash operators have pairs to find
    for i in rng.choice(np.arange(1, n.docs), int(_DUP_SHARE * n.docs), replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n.docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, _LANGS, n.docs, p=_LANG_P),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n.docs)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def _embeddings(rng, n: _Sizes) -> pa.Table:
    vecs = rng.standard_normal((n.vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n.vecs), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n.vecs), pa.int32()),
    })


_TABLE_MAKERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, seed: int, sf: float, names=None) -> str:
    """Write ``<out_dir>/<name>.parquet`` for every table (or only
    ``names``) at scale factor ``sf`` (sf 0.01 gives 15,000 orders and
    60,000 line items); returns ``out_dir``.  Each table draws from its
    own random stream, so a subset equals the same tables of a full set."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = _Sizes(sf)
    for k, (name, build) in enumerate(_TABLE_MAKERS.items()):
        if names is not None and name not in names:
            continue
        table = build(np.random.default_rng([seed, k]), sizes)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
