"""Seeded query tables for the ``query_mix`` workload.

Writes the ten parquet tables the registered queries read
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the column names, types and value shapes
of the engine's reference test data, table by table: a TPC-H-like
star schema scaled by ``sf`` (lineitem has 6,000,000 × sf rows), an
event stream of 1,000,000 × sf events over 30 days (``ts`` is a
microsecond timestamp, as in the reference files), documents over a
small vocabulary of which about 5% are one-word edits of another, and
unit-norm 64-dimensional embeddings. Like the reference data, it keeps
500 documents and 500 embeddings up to sf 0.01 (5,000 and 2,000 at
sf 0.1).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query filter big "
    "group stream vector"
).split()
ADJECTIVES = ("small", "large", "red", "blue", "hot", "old", "new", "green")
NOUNS = ("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
DIM = 64


def _write(out: str, name: str, cols: dict) -> None:
    table = pa.Table.from_pandas(pd.DataFrame(cols), preserve_index=False)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   coerce_timestamps="us", allow_truncated_timestamps=True)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pd.DatetimeIndex:
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, n_days, n), "D")


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = [list(rng.choice(VOCAB, rng.integers(10, 100))) for _ in range(n)]
    # ~5% near-duplicates: a copy of an earlier document with its last
    # word dropped or one word appended
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        src = list(words[rng.integers(0, n // 2)])
        words[i] = src[:-1] if rng.random() < 0.5 else src + [str(rng.choice(VOCAB))]
    texts = [" ".join(w) for w in words]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "zh", "es", "de", "fr"]), n,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out: str, seed: int, sf: float) -> None:
    """Write the tables for scale factor ``sf`` under ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]), n_cust),
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]), n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord),
    })
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 901.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_li),
    })
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), "s"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(np.array(["click", "error", "purchase", "signup", "view"]), n_ev),
        "value": np.maximum(1, np.round(rng.exponential(50.0, n_ev) * 100)) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out, "documents", _documents(rng, n_docs))
    vecs = rng.standard_normal((n_vecs, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
