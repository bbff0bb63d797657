"""Seeded generator for the catalog's input tables.

Writes the ten parquet tables the query catalog reads (``region`` …
``embeddings``) with the column names, physical types and value
distributions of the star-schema fixture the catalog is developed
against: TPC-H-shaped keys and prices, a 30-day ``events`` stream with
naive microsecond timestamps, a 31-word document corpus in which 5% of
the documents are near-duplicates of another one, and unit-norm 64-d
embeddings with ten labels. Row counts scale linearly with ``sf``
(``lineitem`` = 6M·sf), so the same seed and scale always give the same
bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "red", "new", "old", "dark", "small"]
PART_NOUN = ["ring", "bolt", "anvil", "rod", "plate", "gear", "pipe", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _micros(ts: str) -> int:
    return int((np.datetime64(ts, "us") - _EPOCH).astype(np.int64))


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype(np.int64), type=pa.timestamp("us"))


def _day_ts(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _micros(start) // 86_400_000_000, _micros(end) // 86_400_000_000
    return _ts(rng.integers(lo, hi + 1, n) * 86_400_000_000)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(8, 101, n)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    out, at = [], 0
    for k in lengths:
        out.append(" ".join(WORDS[w] for w in words[at:at + k]))
        at += k
    # 5% near-duplicates: a copy of an earlier document plus one token
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (deterministic in ``sf`` and ``seed``)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_user = int(50_000 * sf), max(int(20_000 * sf), 500), int(15_000 * sf)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _day_ts(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _day_ts(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    t0 = _micros("2024-01-01T00:00:00")
    ts = np.sort(rng.integers(t0, t0 + 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = _texts(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``sf_dir/<name>.parquet``; returns row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    counts = {}
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
