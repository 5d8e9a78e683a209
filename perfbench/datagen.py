"""Seeded fixture generator: the TPC-H-ish star schema plus the `events`,
`documents` and `embeddings` tables, one parquet file per table, in the
layout `db_core_spark.tables.table` reads.

The shapes follow the fixture schemas in FIXTURES.md: the same columns and
types, the same value domains (region names, order statuses, return flags,
part names, event types, document vocabulary) and row counts that scale with
`sf` the same way (sf0.01 = 60k lineitem rows). Only numpy and pyarrow are
used, so the inputs exist before Spark starts and the same seed gives
byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

US_PER_DAY = 86_400 * 1_000_000
# 1995-01-01 and 2024-01-01 as microseconds since the epoch
ORDER_EPOCH_US = 9131 * US_PER_DAY
EVENT_EPOCH_US = 19723 * US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random token streams over a 30-word vocabulary, with 4% exact copies
    and 6% near-copies (1-3 tokens changed, 0-2 `dup` tokens appended) of
    distinct originals, so the dedup, minhash, simhash and corpus queries
    have work to find. The counts, the spread of lengths (10-99 tokens)
    and the duplicate clusters (pairs, never larger) are the same for
    every seed; only the tokens and the order differ, so that runs on
    different seeds do comparable work (41-48 minhash pairs over eight
    seeds, against 36-68 with randomly drawn duplicates)."""
    vocab = np.array(VOCAB)
    n_exact, n_near = round(0.04 * n), round(0.06 * n)
    n_orig = n - n_exact - n_near
    lengths = rng.permutation(np.linspace(10, 99, n_orig).round().astype(int))
    docs = [list(rng.choice(vocab, k)) for k in lengths]
    sources = rng.choice(n_orig, n_exact + n_near, replace=False)
    for j, src in enumerate(sources):
        toks = list(docs[src])
        if j >= n_exact:
            k = j - n_exact
            for pos in rng.choice(len(toks), k % 3 + 1, replace=False):
                toks[pos] = str(rng.choice(vocab))
            toks += ["dup"] * (k % 3)
        docs.append(toks)
    return [" ".join(docs[i]) for i in rng.permutation(n)]


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every fixture table for scale `sf` under `out_dir`; returns
    the row count per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_ev = max(int(1_000_000 * sf), 500)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2),
    })

    order_days = rng.integers(0, 2400, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(ORDER_EPOCH_US + order_days * US_PER_DAY),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })

    lines_per = np.clip(rng.poisson(4.0, n_ord), 1, 7)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(n_ord, dtype="int64"), lines_per)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    l_linenumber = (np.arange(n_li) - starts + 1).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    ship_days = np.repeat(order_days, lines_per) + rng.integers(1, 122, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": l_linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ORDER_EPOCH_US + ship_days * US_PER_DAY),
    })

    span_us = 30 * US_PER_DAY
    ev_ts = np.sort(rng.integers(0, span_us, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EVENT_EPOCH_US + ev_ts),
        "user_id": rng.integers(0, max(n_cust // 10, 10), n_ev).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })

    texts = _documents(rng, n_doc)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })

    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), type=pa.float32())
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.FixedSizeListArray.from_arrays(flat, 64).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype("int32"),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
