"""Deterministic fixture tables for the benchmark.

The engine reads ten parquet tables (``sources.catalog.TABLES``): a
TPC-H-shaped star schema, an ``events`` stream and the LLM-pipeline
``documents``/``embeddings`` tables. The benchmark builds its own copy
inside the checkout so that it reads nothing outside it. Schemas,
domains and invariants follow ``FIXTURES.md``:

- relational and ``events`` row counts are those of the sf0.1 fixture
  (orders 150,000, lineitem 600,000, customer 15,000, ...);
- ``documents`` is word salad over the fixture's 30-word vocabulary,
  10-100 words each, no exact duplicates; about 5% are near-duplicates
  (another document with `` dup`` appended), as in the original;
- ``embeddings`` are 64-dim float32, L2-normalized, 10 labels.

``documents`` and ``embeddings`` are smaller than sf0.1's (5,000 and
2,000 rows) so that one pipeline pass fits a benchmark run.

The tables come from a fixed generator seed, not the workload seed:
every workload seed runs against the same data, and the seed only
picks the operations. ``build(root)`` is idempotent and caches the
tables under ``root/<VERSION>-sf<scale>``.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "fixture-v2"
GEN_SEED = 42

#: row counts at scale 0.1; ``build(root, scale)`` scales them linearly
SIZES = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000,
    "orders": 150_000, "lineitem": 600_000, "events": 100_000,
    "documents": 1_000, "embeddings": 500,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["hot", "large", "ring", "bolt", "steel", "blue", "tiny", "nut"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _tables(rng: np.random.Generator, n: dict[str, int]) -> dict[str, pa.Table]:
    CUSTOMERS, SUPPLIERS, PARTS = n["customer"], n["supplier"], n["part"]
    ORDERS, LINEITEMS, EVENTS = n["orders"], n["lineitem"], n["events"]
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(CUSTOMERS), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, CUSTOMERS),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, CUSTOMERS)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(SUPPLIERS), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, SUPPLIERS),
    })
    w = np.array(PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(PARTS), pa.int64()),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 8, PARTS)], " "),
                              w[rng.integers(0, 8, PARTS)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, PARTS).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, PARTS)],
        "p_size": pa.array(rng.integers(1, 51, PARTS), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(PARTS) % 2000) * 0.1, 2),
    })
    order_days = rng.integers(0, 2404, ORDERS)  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, CUSTOMERS, ORDERS), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, ORDERS),
        "o_orderdate": _ts(_EPOCH_1995 + order_days * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ORDERS)],
    })
    l_order = np.sort(rng.integers(0, ORDERS, LINEITEMS))
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    linenumber = np.arange(LINEITEMS) - np.repeat(starts, np.diff(np.r_[starts, LINEITEMS]))
    qty = rng.integers(1, 51, LINEITEMS).astype(np.float64)
    discount = np.round(rng.integers(0, 11, LINEITEMS) / 100.0, 2)
    ship_days = order_days[l_order] + rng.integers(1, 122, LINEITEMS)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, PARTS, LINEITEMS), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, SUPPLIERS, LINEITEMS), pa.int64()),
        "l_linenumber": pa.array(linenumber % 7 + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, LINEITEMS), 2),
        "l_discount": discount,
        "l_tax": np.round(rng.integers(0, 9, LINEITEMS) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, LINEITEMS)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, LINEITEMS)],
        "l_shipdate": _ts(_EPOCH_1995 + ship_days * _US_PER_DAY),
    })
    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, EVENTS))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(EVENTS), pa.int64()),
        "ts": _ts(_EPOCH_2024 + ev_us),
        "user_id": pa.array(rng.integers(0, 1500, EVENTS), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, EVENTS)],
        "value": _money(rng, 0.0, 560.0, EVENTS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS)],
    })
    t["documents"] = _documents(rng, n["documents"])
    VECS = n["embeddings"]
    vecs = rng.standard_normal((VECS, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, VECS), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, DOCS: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    seen: set[str] = set()
    for i in range(DOCS):
        if i > 10 and rng.random() < 0.05:
            text = texts[int(rng.integers(0, i))] + " dup"
        else:
            text = " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        while text in seen:  # no exact duplicates (FIXTURES.md invariant)
            text += " " + str(vocab[int(rng.integers(0, len(vocab)))])
        seen.add(text)
        texts.append(text)
    return pa.table({
        "doc_id": pa.array(np.arange(DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, DOCS)],
        "source": np.char.add("src", rng.integers(0, 20, DOCS).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })


def sizes(scale: float) -> dict[str, int]:
    return {k: max(int(v * scale / 0.1), 50) for k, v in SIZES.items()}


def build(root: str, scale: float = 0.1) -> str:
    """Write the fixture under ``root/<VERSION>-sf<scale>`` once; return
    that dir."""
    out = os.path.join(root, f"{VERSION}-sf{scale:g}")
    if os.path.exists(os.path.join(out, "_COMPLETE")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = _tables(np.random.default_rng(GEN_SEED), sizes(scale))
    for name, table in tables.items():
        # one row group per file, like the original fixture
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out
