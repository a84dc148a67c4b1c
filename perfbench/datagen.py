"""Seeded input tables for the benchmark.

Writes the ten tables the query registry reads (``kawa_spark.io.TABLES``)
as parquet under one directory, with the column names, physical types and
value distributions of the project's synthetic test data: a TPC-H-like
star schema, a Poisson ``events`` stream, a word-salad ``documents``
corpus with planted near-duplicates, and unit-norm ``embeddings``.

The same ``(seed, sf)`` always gives byte-identical inputs; nothing is
read from outside the output directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()

_DAY_US = 86_400_000_000


def _ts(start: str, micros: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + micros.astype(np.int64), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.array(names)[rng.integers(0, len(names), n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
        }
    )
    order_days = (
        np.datetime64("2001-08-01") - np.datetime64("1995-01-01")
    ).astype(int)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts(
                "1995-01-01", rng.integers(0, order_days + 1, n_ord) * _DAY_US
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    ship_days = (
        np.datetime64("2001-11-04") - np.datetime64("1995-01-02")
    ).astype(int)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n_line), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(
                "1995-01-02", rng.integers(0, ship_days + 1, n_line) * _DAY_US
            ),
        }
    )
    # events: a Poisson arrival process over 30 days, ids in time order
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts("2024-01-01", ev_us),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: word salad, plus ~5% near-duplicates of earlier docs
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            if len(words) > 12 and rng.random() < 0.5:
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(VOCAB)
                )
            texts.append(" ".join(words + ["dup"]))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(emb.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        }
    )
    return out


def write(out_dir: str, seed: int, sf: float) -> str:
    """Write every table to ``out_dir/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
