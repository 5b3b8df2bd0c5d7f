"""Seeded synthetic fixtures with the engine's table contract.

Writes the ten tables ``fixtures.TABLES`` reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as one parquet file each, with the same column names,
types and value ranges as the engine's reference fixtures. Row counts
scale with ``sf`` the way the reference fixtures do (events = 1M x sf,
lineitem = 6M x sf, ...). The same ``(seed, sf)`` always writes the
same bytes; only values change with the seed, never sizes, so every
seed does the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "zh", "de", "es", "fr")
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "big")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "plate", "ring", "nut")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400
ORDERS_START = dt.datetime(1995, 1, 1)
ORDERS_SPAN_DAYS = 2404  # 1995-01-01 .. 2001-08-01


def _days(rng: np.random.Generator, start: dt.datetime, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out: str, seed: int, sf: float, tables: tuple[str, ...] | None = None) -> None:
    """Write the tables under ``out`` (all ten, or only ``tables``).
    Each table draws from its own generator, so a subset holds the same
    bytes as the full set."""
    os.makedirs(out, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_li = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = 500 if sf <= 0.01 else 5_000
    n_emb = 500 if sf <= 0.01 else 2_000

    def write(name: str, build) -> None:
        if tables is not None and name not in tables:
            return
        rng = np.random.default_rng([seed, TABLE_IDS[name]])
        pq.write_table(pa.table(build(rng)), os.path.join(out, f"{name}.parquet"))

    write("region", lambda rng: {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    write("nation", lambda rng: {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("customer", lambda rng: {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    write("supplier", lambda rng: {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    write("part", lambda rng: {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    write("orders", lambda rng: {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("P", "O", "F"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, ORDERS_START, ORDERS_SPAN_DAYS, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    write("lineitem", lambda rng: _lineitem(rng, n_li, n_ord, n_part, n_supp))
    write("events", lambda rng: _events(rng, n_ev, n_users))
    write("documents", lambda rng: _documents(rng, n_docs))
    write("embeddings", lambda rng: _embeddings(rng, n_emb))


TABLE_IDS = {name: i for i, name in enumerate((
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
))}


def _lineitem(rng: np.random.Generator, n: int, n_ord: int, n_part: int, n_supp: int) -> dict:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n),
        "l_linestatus": rng.choice(("O", "F"), n),
        "l_shipdate": _days(rng, ORDERS_START + dt.timedelta(days=1), 2499, n),
    }


def _events(rng: np.random.Generator, n: int, n_users: int) -> dict:
    """Ascending event time by event_id over 30 days, uniform users,
    exponential amounts (mean 50, like the reference fixture)."""
    offs = np.sort(rng.integers(0, EVENTS_SPAN_S * 1_000_000, n))
    ts = np.datetime64(EVENTS_START, "us") + offs.astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Bag-of-words text; every 10th doc is a near copy of an earlier
    one (two words swapped out), so the dedup operators find pairs."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and i % 10 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), 2):
                words[j] = str(vocab[int(rng.integers(0, len(vocab)))])
        else:
            words = [str(w) for w in vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))]]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    """64-d unit float32 vectors around one of 10 label centroids."""
    labels = rng.integers(0, 10, n)
    cent = rng.normal(0.0, 1.0, (10, 64))
    vec = cent[labels] + rng.normal(0.0, 0.8, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
