"""Seeded generator for the query suite's input tables.

Writes the ten tables that ``__spark_entry__.queries()`` reads (a TPC-H
style star schema plus ``events``, ``documents`` and ``embeddings``),
one parquet file each, with the column names and types of the fixture
tables in TESTDATA.md. Every value is a pure function of the seed, so
the same seed gives byte-identical inputs. ``scale`` 1.0 gives the row
counts of the sf0.01 fixture (lineitem 60k rows).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the key agg row scan slow fast table value part hash line sort window "
    "batch spark order data column join small big customer query stream merge "
    "filter group vector"
).split()
_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe"]


def _ts(base: str, seconds: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us") + (seconds * 1_000_000).astype("timedelta64[us]"))


def _write(out_dir: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(1500 * scale)
    n_supp = max(int(100 * scale), 10)
    n_part = int(2000 * scale)
    n_orders = int(15000 * scale)
    n_line = int(60000 * scale)
    n_events = int(10000 * scale)
    n_users = max(int(150 * scale), 10)
    n_docs = int(500 * scale)
    n_vecs = int(500 * scale)
    counts: dict[str, int] = {}

    def put(name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
        _write(out_dir, name, df, schema)
        counts[name] = len(df)

    put("region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))

    put("nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                   ("n_regionkey", pa.int32())]))

    put("customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"], n_cust),
    }), pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                   ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                   ("c_mktsegment", pa.string())]))

    put("supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                   ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))

    put("part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    }), pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                   ("p_brand", pa.string()), ("p_type", pa.string()),
                   ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    put("orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2400, n_orders) * 86400),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    }), pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                   ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                   ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", pa.string())]))

    put("lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2500, n_line) * 86400),
    }), pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                   ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                   ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                   ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                   ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                   ("l_shipdate", pa.timestamp("us"))]))

    # events: one month of per-user activity; 'error' plays the tombstone
    gaps = rng.exponential(30 * 86400 / n_events, n_events)
    put("events", pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_events),
        "value": np.round(rng.uniform(0.01, 20.0, n_events)
                          * np.where(rng.random(n_events) < 0.02, 25, 1), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    }), pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                   ("user_id", pa.int64()), ("event_type", pa.string()),
                   ("value", pa.float64()), ("props", pa.string())]))

    # documents: word salad; every 10th doc repeats an earlier one so the
    # exact and near-dup queries have work to find
    texts = []
    for i in range(n_docs):
        if i % 10 == 9 and i > 10:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        n = int(rng.integers(8, 80))
        texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), n)))
    put("documents", pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                   ("lang", pa.string()), ("source", pa.string()),
                   ("n_chars", pa.int64())]))

    # embeddings: 64-d float32 around ten cluster centres
    centres = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(0.0, 1.2, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    put("embeddings", pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32),
    }), pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())]))
    return counts
