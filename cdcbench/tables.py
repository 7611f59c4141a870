"""Seeded input tables for the batch headline queries.

Same ten tables, column names and types as the engine's test fixtures
(TPC-H-style star schema, an ``events`` stream table, ``documents`` and
64-dim ``embeddings``), at about the 0.005 scale factor, drawn with numpy from
the benchmark seed.  Documents run 70-110 words, so every planted near-duplicate
(a five-word suffix) has 3-gram Jaccard >= 0.93 and MinHash-LSH finds it with
probability 1 - 1e-5 per pair, keeping the exact oracle check deterministic
in practice.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("the a and of to in is key agg row scan slow fast table value part "
         "hash merge batch spark window line sort data column join small big "
         "order query customer stream filter group vector").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]

SIZES = {"customer": 750, "supplier": 50, "part": 1_000, "orders": 7_500,
         "events": 5_000, "documents": 200, "embeddings": 250}


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1e6).astype("int64") + int(base.timestamp() * 1e6)
    return pa.array(us, pa.timestamp("us"))


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten parquet tables; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SIZES
    utc = dt.timezone.utc
    tabs: dict[str, pa.Table] = {}

    tabs["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tabs["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tabs["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n["customer"])})
    tabs["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    colors = ["red", "blue", "green", "small", "large", "shiny"]
    nouns = ["widget", "bolt", "ring", "gear", "valve", "pipe"]
    tabs["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype="int64"),
        "p_name": [f"{colors[i % 6]} {nouns[(i // 6) % 6]}" for i in range(n["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "PROMO"],
                             n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
        "p_retailprice": np.round(900 + np.arange(n["part"]) / 10, 2)})

    o = n["orders"]
    odays = rng.integers(0, 2400, o)
    tabs["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, n["customer"], o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, o), 2),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1, tzinfo=utc), odays * 86400.0),
        "o_orderpriority": rng.choice(PRIORITIES, o)})

    lines_per = rng.integers(1, 8, o)
    lk = np.repeat(np.arange(o, dtype="int64"), lines_per)
    m = len(lk)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines_per]).astype("int32")
    ship = np.repeat(odays, lines_per) + rng.integers(1, 121, m)
    tabs["lineitem"] = pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, m).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _ts(dt.datetime(1995, 1, 1, tzinfo=utc), ship * 86400.0)})

    e = n["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, e))
    tabs["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(dt.datetime(2024, 1, 1, tzinfo=utc), secs),
        "user_id": rng.integers(0, 150, e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.round(rng.uniform(0, 50, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = [" ".join(rng.choice(VOCAB, rng.integers(70, 110)))
             for _ in range(d)]
    tabs["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS, d),
        "source": [f"src{s}" for s in rng.integers(0, 20, d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(size=(10, 64))
    vecs = (centers[labels] * 0.4 + rng.normal(size=(v, 64))).astype("float32")
    tabs["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32")})

    for name, t in tabs.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tabs.items()}
