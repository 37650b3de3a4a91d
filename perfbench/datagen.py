"""Seeded input generators for the benchmark.

Everything the program reads is made here from ``--seed``: the star-schema
tables the catalog queries scan, the rows of the ``ratings`` stream files,
and the rows of the Debezium-style change batches the CDC applier merges. The same seed gives byte-identical inputs; the shapes and
value ranges follow the fixture tables the catalog's oracles were written
against (TPC-H-like star schema plus ``events``/``documents``/``embeddings``).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "small", "large", "black", "white", "steel",
          "brass", "tin", "copper", "gold", "plain")
NOUNS = ("ring", "widget", "bolt", "anvil", "gear")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
VOCAB = (
    "a the key agg row scan slow fast table value part hash batch window "
    "spark order data column join small big line customer query filter "
    "group merge sort stream vector"
).split()

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])

_DAY_US = 86_400_000_000


def _days(rng, n: int, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def write_parquet(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(20, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(50, int(1_500_000 * sf))
    n_line = max(200, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(50, int(50_000 * sf))

    write_parquet(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    write_parquet(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write_parquet(out_dir, "customer", customer_columns(rng, n_cust))
    write_parquet(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    write_parquet(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in zip(
            rng.integers(0, len(COLORS), n_part), rng.integers(0, len(NOUNS), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    write_parquet(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write_parquet(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        # whole currency units, so that price * (1 - discount) is exact to
        # the cent: with cent prices about one order in a hundred sums to an
        # exact half cent, which Spark's and DuckDB's float sums, added in
        # different orders, round to different cents
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.98, 1.02, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    write_parquet(out_dir, "events", event_columns(
        rng, np.arange(n_ev, dtype=np.int64),
        np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        n_users=max(10, n_cust // 10),
    ))
    write_parquet(out_dir, "documents", document_columns(rng, n_doc))
    write_parquet(out_dir, "embeddings", embedding_columns(rng, n_doc))


def customer_columns(rng, n: int, first_key: int = 0) -> dict:
    keys = np.arange(first_key, first_key + n, dtype=np.int64)
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    }


def event_columns(rng, ids: np.ndarray, ts: np.ndarray, n_users: int) -> pa.Table:
    n = len(ids)
    return pa.table({
        "event_id": ids,
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }, schema=EVENTS_SCHEMA)


def document_columns(rng, n: int) -> dict:
    """Token-soup documents; about one in ten is a lightly edited copy of an
    earlier one so the near-duplicate families find candidate pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), 2):
                toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            toks = [VOCAB[k] for k in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, 5, n)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embedding_columns(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    v = centers[labels] + rng.normal(0, 0.8, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    emb = pa.ListArray.from_arrays(np.arange(0, n * dim + 1, dim, dtype=np.int32), flat)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": labels.astype(np.int32),
    })
