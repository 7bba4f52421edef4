"""Seeded input generator for the layered benchmark.

Writes the ten tables the engine's loader expects (the TPC-H-shaped star
schema plus events, documents and embeddings) as one parquet file each,
with the on-disk types the loader asserts. The same seed gives the same
files byte for byte.

`write_tables` makes the relational and corpus inputs at a chosen scale
factor. `write_deep_graph` makes the graph fixture: small tables plus a
`lineitem` whose supplier-partnership graph is one chain, with the
minimum supplier id at one end and the other ids shuffled by the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import deque

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_DAY0 = dt.date(1995, 1, 1)
ORDER_DAYS = 2405  # 1995-01-01 .. 2001-08-01 inclusive
SHIP_DAY0 = dt.date(1995, 1, 2)
SHIP_DAYS = 2499  # 1995-01-02 .. 2001-11-04 inclusive
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "anvil", "plate", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the row column table key value data query join hash scan filter sort "
    "group agg window merge batch stream spark vector part line order "
    "customer small big fast slow"
).split()

_I32, _I64, _F64, _STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
_MS = pa.timestamp("ms")


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _days(day0: dt.date, offsets: np.ndarray) -> pa.Array:
    base = np.datetime64(day0.isoformat(), "ms")
    return pa.array(base + offsets.astype("timedelta64[D]"), _MS)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _dims(rng: np.random.Generator, out_dir: str, n_cust: int, n_supp: int, n_part: int) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), _I32),
        "r_name": pa.array(REGIONS, _STR),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), _I32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], _STR),
        "n_regionkey": pa.array([i % 5 for i in range(25)], _I32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), _I64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], _STR),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), _I32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), _F64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), _STR),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), _I64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], _STR),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), _I32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), _F64),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), _I64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
            _STR,
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], _STR),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), _STR),
        "p_size": pa.array(rng.integers(1, 51, n_part), _I32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), _F64),
    })


def _orders(rng: np.random.Generator, out_dir: str, n_orders: int, n_cust: int) -> None:
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), _I64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), _I64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders), _STR),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders), _F64),
        "o_orderdate": _days(ORDER_DAY0, rng.integers(0, ORDER_DAYS, n_orders)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders), _STR),
    })


def _lineitem(
    rng: np.random.Generator, out_dir: str, orderkey: np.ndarray, linenumber: np.ndarray,
    suppkey: np.ndarray, n_part: int,
) -> None:
    n = len(orderkey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(orderkey, _I64),
        "l_partkey": pa.array(rng.integers(0, n_part, n), _I64),
        "l_suppkey": pa.array(suppkey, _I64),
        "l_linenumber": pa.array(linenumber, _I32),
        "l_quantity": pa.array(qty, _F64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2), _F64),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, _F64),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, _F64),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], n), _STR),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n), _STR),
        "l_shipdate": _days(SHIP_DAY0, rng.integers(0, SHIP_DAYS, n)),
    })


def _events(rng: np.random.Generator, out_dir: str, n: int, n_users: int) -> None:
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    ts = np.datetime64(EVENT_T0, "us") + offs.astype("timedelta64[us]")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n), _I64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), _I64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), _STR),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)), _F64),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)], _STR),
    })


def _documents(rng: np.random.Generator, out_dir: str, n: int) -> None:
    """Word salad over a small vocabulary. About 5% of documents are an
    earlier document plus a trailing " dup" (near duplicates), and a
    few repeat an earlier document verbatim (exact duplicates).

    Which documents repeat which, and the bag of words of each document,
    are the same for every seed; the seed shuffles the word order inside
    each document. So document lengths, the planted duplicates and the
    corpus word counts (all the tokenizer sees) do not change with the
    seed, while every text, shingle and hash does."""
    shape = np.random.default_rng(0)
    bags: list[np.ndarray] = []
    copies: list[tuple[int, str]] = []  # (source document, suffix) or (-1, "")
    for i in range(n):
        r = shape.random()
        if i > 10 and r < 0.06:
            copies.append((int(shape.integers(0, i)), " dup" if r < 0.05 else ""))
        else:
            copies.append((-1, ""))
        bags.append(shape.choice(WORDS, int(shape.integers(10, 100))))
    texts: list[str] = []
    for i, (src, suffix) in enumerate(copies):
        texts.append(texts[src] + suffix if src >= 0 else " ".join(rng.permutation(bags[i])))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n), _I64),
        "text": pa.array(texts, _STR),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), _STR),
        "source": pa.array([f"src{i % 20}" for i in range(n)], _STR),
        "n_chars": pa.array([len(t) for t in texts], _I64),
    })


def _embeddings(rng: np.random.Generator, out_dir: str, n: int, dim: int = 64) -> None:
    """Unit vectors drawn around ten label centres."""
    centres = rng.standard_normal((10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, n)
    vec = 0.15 * centres[label] + rng.standard_normal((n, dim)) / np.sqrt(dim)
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n), _I64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, _I32),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """All ten tables at scale factor `sf` (sf 1 = 1.5M orders)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    _dims(rng, out_dir, n_cust, n_supp, n_part)
    _orders(rng, out_dir, n_orders, n_cust)
    lines = rng.integers(1, 8, n_orders)
    orderkey = np.repeat(np.arange(n_orders), lines)
    linenumber = np.arange(len(orderkey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    _lineitem(rng, out_dir, orderkey, linenumber, rng.integers(0, n_supp, len(orderkey)), n_part)
    _events(rng, out_dir, int(1_000_000 * sf), max(10, int(15_000 * sf)))
    n_docs = max(500, int(50_000 * sf))
    _documents(rng, out_dir, n_docs)
    _embeddings(rng, out_dir, n_docs)


def write_deep_graph(out_dir: str, seed: int, n_nodes: int) -> None:
    """Tiny tables plus a `lineitem` whose only supplier pairs are the
    consecutive links of one chain. Each link is carried by two
    two-line orders."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    # supplier id at each chain position: 0 first, the others shuffled
    labels = np.concatenate([[0], 1 + rng.permutation(n_nodes - 1)])
    n_links = n_nodes - 1
    n_orders = n_links * 2
    _dims(rng, out_dir, 150, n_nodes, 200)
    _orders(rng, out_dir, n_orders, 150)
    link = np.repeat(np.arange(n_links), 2)
    orderkey = np.repeat(np.arange(n_orders), 2)
    linenumber = np.tile([1, 2], n_orders)
    suppkey = np.stack([labels[link], labels[link + 1]], axis=1).ravel()
    _lineitem(rng, out_dir, orderkey, linenumber, suppkey, 200)
    _events(rng, out_dir, 1_000, 10)
    _documents(rng, out_dir, 50)
    _embeddings(rng, out_dir, 50)
    check_chain(out_dir, n_nodes)


def check_chain(out_dir: str, n_nodes: int) -> None:
    """Raise unless the supplier pairs that share an order form one
    connected graph of `n_nodes` nodes with diameter `n_nodes - 1`."""
    li = pq.read_table(os.path.join(out_dir, "lineitem.parquet"), columns=["l_orderkey", "l_suppkey"])
    by_order: dict[int, set[int]] = {}
    for o, s in zip(li.column(0).to_pylist(), li.column(1).to_pylist()):
        by_order.setdefault(o, set()).add(s)
    adj: dict[int, set[int]] = {}
    for members in by_order.values():
        for a in members:
            adj.setdefault(a, set()).update(members - {a})

    def farthest(src: int) -> tuple[int, int, int]:
        dist = {src: 0}
        todo = deque([src])
        while todo:
            u = todo.popleft()
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        far = max(dist, key=dist.__getitem__)
        return far, dist[far], len(dist)

    end, _, _ = farthest(min(adj))
    _, diameter, reached = farthest(end)
    if len(adj) != n_nodes or reached != n_nodes or diameter != n_nodes - 1:
        raise RuntimeError(
            f"deep-graph fixture: {len(adj)} nodes, {reached} reachable, "
            f"diameter {diameter}; want {n_nodes} nodes and diameter {n_nodes - 1}"
        )
