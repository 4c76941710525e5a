"""Seeded synthetic tables for the benchmark.

Writes the ten parquet tables the suite queries read (the TPC-H-shaped
star schema plus ``events``, ``documents`` and ``embeddings``), with the
column names, types and value domains of the repository's fixture data
(FIXTURES.md): ``events.ts`` is timestamp[ns], so reading it takes the
program's ns-to-us truncation path, and the order and ship dates are
timestamp[ms]. Row counts scale with ``sf`` the way the fixtures do:
``sf=0.01`` gives 60k lineitem rows and 10k events.

The same ``(seed, sf)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "small", "red", "green", "dark",
            "light", "bright", "heavy", "thin"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "the", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "value", "vector", "window"]
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(10, int(200_000 * sf)),
        "orders": max(10, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(100, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
        "users": max(10, int(15_000 * sf)),
    }


def _ts(us: np.ndarray, unit: str) -> pa.Array:
    """Microseconds since the epoch as a timestamp array of ``unit``."""
    return pa.array(us.astype("datetime64[us]").astype(f"datetime64[{unit}]"),
                    type=pa.timestamp(unit))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` events over January 2024, ts-ordered, exponential values."""
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts, "ns"),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def refreshed_events(base: pa.Table, seed: int) -> pa.Table:
    """``base`` with a new ``value`` column fixed by ``seed``: the same
    rows, new values."""
    vals = np.round(np.random.default_rng(seed).exponential(50.0, base.num_rows), 2)
    return base.set_column(base.schema.get_field_index("value"), "value", pa.array(vals))


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    vocab = np.array(WORDS)
    for i in range(n):
        long_docs = [j for j in range(max(0, i - 200), i) if texts[j].count(" ") >= 39]
        if long_docs and rng.random() < 0.05:
            # near-duplicate: one word swapped in a >=40-word document,
            # which keeps its 3-gram Jaccard with the source >= 0.8
            words = texts[long_docs[rng.integers(0, len(long_docs))]].split(" ")
            words[rng.integers(0, len(words))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))])
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    vecs = rng.normal(0.0, 1.0, (n, EMBED_DIM))
    for i in range(1, n):
        if rng.random() < 0.04:  # near-duplicate vector, cosine > 0.99
            vecs[i] = vecs[rng.integers(0, i)] + rng.normal(0.0, 0.01, EMBED_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True) * 0.8).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})

    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})

    npt = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npt, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), npt), rng.integers(0, len(PART_NOUN), npt))]),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npt)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npt)]),
        "p_size": pa.array(rng.integers(1, 51, npt, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npt) % 1000) * 0.1, 2))})

    no = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2404, no) * _DAY_US  # to 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": _ts(odate, "ms"),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})

    # 1-7 lines per order, numbered 1..k: (l_orderkey, l_linenumber) is unique
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lnum = (np.arange(len(okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    nl = len(okey)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, npt, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, nl) * _DAY_US,
                          "ms")})

    pq.write_table(events_table(rng, n["events"], n["users"]),
                   os.path.join(out_dir, "events.parquet"))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]))
    return {"lineitem": nl, **{k: v for k, v in n.items() if k != "users"}}
