"""Seeded synthetic inputs for the benchmark workloads.

Every table has the schema of the engine's star-schema test corpus
(``region nation customer supplier part orders lineitem events documents
embeddings``), so the registered queries and their DuckDB oracles run on
it unchanged. The same (seed, shape) always yields the same bytes: each
table draws from its own ``numpy`` generator keyed on (seed, table).

Only numpy and pyarrow are used: generation takes about a second, so a
workload builds its corpus fresh from ``--seed`` instead of reading a
shared directory.
"""

from __future__ import annotations

import json
import os
import zlib
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "fr", "es", "zh", "de")  # en ~ 1/3, like the test corpus
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64


@dataclass(frozen=True)
class Shape:
    """Row counts of one generated corpus.

    ``doc_copies`` / ``vec_copies`` > 1 append mutated near-duplicate
    copies of the first ``documents // doc_copies`` documents (and
    likewise for vectors), the density regime dedup and kNN work on.
    """

    orders: int = 0
    customers: int = 0
    parts: int = 0
    suppliers: int = 0
    events: int = 0
    users: int = 0
    documents: int = 0
    doc_copies: int = 1
    vectors: int = 0
    vec_copies: int = 1


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, zlib.crc32(table.encode())])


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(r.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _tpch(out_dir: str, s: Shape, seed: int) -> None:
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "supplier")
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(s.suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s.suppliers)],
        "s_nationkey": r.integers(0, 25, s.suppliers).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, s.suppliers),
    })
    r = _rng(seed, "customer")
    _write(out_dir, "customer", {
        "c_custkey": np.arange(s.customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(s.customers)],
        "c_nationkey": r.integers(0, 25, s.customers).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, s.customers),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, s.customers)],
    })
    r = _rng(seed, "part")
    keys = np.arange(s.parts, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), s.parts)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            r.integers(0, 25, s.parts)
        ],
        "p_type": np.array(P_TYPES)[r.integers(0, len(P_TYPES), s.parts)],
        "p_size": r.integers(1, 51, s.parts).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    r = _rng(seed, "orders")
    odays = r.integers(0, 2404, s.orders)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(s.orders, dtype=np.int64),
        "o_custkey": r.integers(0, s.customers, s.orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, s.orders)],
        "o_totalprice": _money(r, 1000.0, 500000.0, s.orders),
        "o_orderdate": _days("1995-01-01", odays),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, s.orders)],
    })
    r = _rng(seed, "lineitem")
    per_order = r.integers(1, 8, s.orders)
    okey = np.repeat(np.arange(s.orders, dtype=np.int64), per_order)
    n = len(okey)
    starts = np.cumsum(per_order) - per_order
    linenumber = np.arange(n) - np.repeat(starts, per_order) + 1
    qty = r.integers(1, 51, n).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, s.parts, n).astype(np.int64),
        "l_suppkey": r.integers(0, s.suppliers, n).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2000.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
        "l_shipdate": _days(
            "1995-01-01", np.repeat(odays, per_order) + r.integers(1, 122, n)
        ),
    })


def _events(out_dir: str, s: Shape, seed: int) -> None:
    r = _rng(seed, "events")
    n = s.events
    # every user id 0..users-1 occurs, so the user//2 parent forest the
    # graph queries derive is dense from the root
    users = np.concatenate(
        [np.arange(s.users), r.integers(0, s.users, n - s.users)]
    ).astype(np.int64)
    micros = np.sort(r.integers(0, 30 * 86_400_000_000, n))
    start = np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(start + micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": users,
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })


def _documents(out_dir: str, s: Shape, seed: int) -> None:
    r = _rng(seed, "documents")
    n_base = s.documents // s.doc_copies
    words = np.array(WORDS)
    base = [
        " ".join(words[r.integers(0, len(WORDS), r.integers(10, 101))])
        for _ in range(n_base)
    ]
    texts = list(base)
    # copy i drops every (4+4i)-th word and appends a copy token: copy 1
    # sits at the 0.5 word-3-shingle Jaccard threshold, later copies are
    # clearly near-duplicates of their original
    for i in range(1, s.doc_copies):
        period = 4 + 4 * i
        for t in base:
            words_t = t.split(" ")
            kept = [w for j, w in enumerate(words_t) if j % period != period - 1]
            texts.append(" ".join(kept) + f" zc{i}")
    n = len(texts)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[r.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def unit_vectors(r: np.random.Generator, n: int) -> np.ndarray:
    v = r.standard_normal((n, DIM))
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def vector_table(
    ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray
) -> pa.Table:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, len(ids) * DIM + 1, DIM), pa.int32()), flat
    )
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": emb,
        "label": pa.array(labels, pa.int32()),
    })


def _embeddings(out_dir: str, s: Shape, seed: int) -> None:
    r = _rng(seed, "embeddings")
    n_base = s.vectors // s.vec_copies
    base = unit_vectors(r, n_base)
    parts = [base]
    # copy i adds per-row, per-dim noise growing with i: each copy is a
    # near neighbor of its original, not a clone
    for i in range(1, s.vec_copies):
        noisy = base + 0.04 * i * r.uniform(-0.5, 0.5, base.shape)
        parts.append(noisy.astype(np.float32))
    vecs = np.concatenate(parts)
    n = len(vecs)
    pq.write_table(
        vector_table(np.arange(n), vecs, r.integers(0, 10, n)),
        os.path.join(out_dir, "embeddings.parquet"),
    )


def generate(out_dir: str, shape: Shape, seed: int) -> dict:
    """Write every table ``shape`` asks for into ``out_dir`` and return
    the manifest. Reuses the directory when its manifest already matches."""
    manifest = {
        "generator_version": GENERATOR_VERSION,
        "seed": seed,
        "shape": asdict(shape),
    }
    path = os.path.join(out_dir, "MANIFEST.json")
    if os.path.exists(path):
        with open(path) as fh:
            if json.load(fh) == manifest:
                return manifest
    os.makedirs(out_dir, exist_ok=True)
    if shape.orders:
        _tpch(out_dir, shape, seed)
    if shape.events:
        _events(out_dir, shape, seed)
    if shape.documents:
        _documents(out_dir, shape, seed)
    if shape.vectors:
        _embeddings(out_dir, shape, seed)
    with open(path, "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
    return manifest
