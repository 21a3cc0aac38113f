"""Seeded tables for the batch pass (``batch_pass``).

Writes the ten tables the registered queries read (region nation
customer supplier part orders lineitem events documents embeddings) as
parquet, with the column names, types and value ranges of the
TPC-H-style star schema the queries were written against. Every value
comes from one ``numpy`` generator seeded by the caller, so one seed
always gives the same files.

Shape, per ``sf`` (row counts scale linearly, as in TPC-H):
lineitem 6,000,000 x sf, orders 1,500,000 x sf, events 1,000,000 x sf,
customer 150,000 x sf, part 200,000 x sf, supplier 10,000 x sf;
documents and embeddings have ``n_docs`` rows. Five percent of the
documents are near-copies of an earlier one (the copy plus the word
``dup``), so the dedup queries have work to find.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
ADJ = ["small", "new", "blue", "old", "red", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_ORDER_START = datetime(1995, 1, 1)
_EVENT_START = datetime(2024, 1, 1)


def _ts(start: datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int(start.timestamp() * 1_000_000)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )


def generate(out_dir: str, seed: int, sf: float = 0.01, n_docs: int = 500) -> None:
    """Write the ten tables under ``out_dir`` as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    order_days = rng.integers(0, 2404, n_ord)
    ev_gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64)
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": pa.array(
                    [
                        f"{ADJ[a]} {NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, len(ADJ), n_part),
                            rng.integers(0, len(NOUN), n_part),
                        )
                    ]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": _pick(rng, PTYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                "o_orderdate": _ts(_ORDER_START, order_days * _DAY_US),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900, 105_000, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
                "l_linestatus": _pick(rng, ["F", "O"], n_line),
                "l_shipdate": _ts(_ORDER_START, rng.integers(1, 2499, n_line) * _DAY_US),
            }
        ),
        "events": pa.table(
            {
                "event_id": np.arange(n_ev, dtype=np.int64),
                "ts": _ts(_EVENT_START, np.cumsum(ev_gaps)),
                "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
                "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
