"""Seeded generator for the query suite's input tables.

Writes the ten tables ``suite.all_queries()`` read (``region nation
customer supplier part orders lineitem events documents embeddings``), one
parquet file each, with the column names and types of the TPC-H-ish
testdata the suite was written against. Row counts scale with ``sf`` the
same way (lineitem ~6M x sf); documents and embeddings stay at 500 rows.
Documents draw from a small vocabulary, and about 5% are copies of an
earlier document with " dup" appended, so the near-duplicate queries find
pairs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = (("blue", "cold", "hot", "large", "new", "old", "red", "small"),
              ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"))
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
VOCAB = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
         "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
         "value", "vector", "window")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
I32, I64, F64, STR, TS = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")


def _days(rng, n, start: dt.date, span_days: int):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir, name, columns: dict, schema) -> None:
    table = pa.table({k: pa.array(v, type=schema[k]) for k, v in columns.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)

    _write(out_dir, "region", {"r_regionkey": range(5), "r_name": REGIONS},
           {"r_regionkey": I32, "r_name": STR})
    _write(out_dir, "nation", {"n_nationkey": range(25),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": [i % 5 for i in range(25)]},
           {"n_nationkey": I32, "n_name": STR, "n_regionkey": I32})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
        {"c_custkey": I64, "c_name": STR, "c_nationkey": I32, "c_acctbal": F64,
         "c_mktsegment": STR})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        {"s_suppkey": I64, "s_name": STR, "s_nationkey": I32, "s_acctbal": F64})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[0], n_part),
                                               rng.choice(PART_WORDS[1], n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part), "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)},
        {"p_partkey": I64, "p_name": STR, "p_brand": STR, "p_type": STR, "p_size": I32,
         "p_retailprice": F64})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders), "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_orders),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)},
        {"o_orderkey": I64, "o_custkey": I64, "o_orderstatus": STR, "o_totalprice": F64,
         "o_orderdate": TS, "o_orderpriority": STR})
    lines = rng.integers(1, 8, n_orders)
    n_line = int(lines.sum())
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_orders), lines),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines]),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), 2500)},
        {"l_orderkey": I64, "l_partkey": I64, "l_suppkey": I64, "l_linenumber": I32,
         "l_quantity": F64, "l_extendedprice": F64, "l_discount": F64, "l_tax": F64,
         "l_returnflag": STR, "l_linestatus": STR, "l_shipdate": TS})
    gaps = rng.exponential(30 * 86400e6 / max(1, n_events), n_events).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_events),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us")
               + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(10, n_events // 66), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]},
        {"event_id": I64, "ts": TS, "user_id": I64, "event_type": STR, "value": F64,
         "props": STR})

    texts = []
    for i in range(500):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    langs, weights = zip(*LANGS)
    _write(out_dir, "documents", {
        "doc_id": np.arange(500), "text": texts,
        "lang": rng.choice(langs, 500, p=weights),
        "source": [f"src{i % 20}" for i in range(500)],
        "n_chars": [len(t) for t in texts]},
        {"doc_id": I64, "text": STR, "lang": STR, "source": STR, "n_chars": I64})
    vecs = rng.normal(size=(500, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(500), "embedding": list(vecs),
        "label": rng.integers(0, 10, 500)},
        {"vec_id": I64, "embedding": pa.list_(pa.float32()), "label": I32})
    return {t: pq.read_metadata(os.path.join(out_dir, f"{t}.parquet")).num_rows
            for t in TABLES}
