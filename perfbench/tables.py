"""Seeded TPC-H-shaped test tables for the query batch.

Same tables, column names and parquet types as the test tables the
registry queries are written against (TESTDATA.md): ``region nation
customer supplier part orders lineitem events documents embeddings``.
Values are independent uniform draws over the same domains; about 5% of
documents are near-duplicates (an earlier text plus `` dup``) so the
MinHash/dedup family has pairs to find.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_WORDS = (["red", "blue", "small", "large", "hot", "old", "green", "shiny"],
              ["widget", "bolt", "ring", "plate", "rod", "gear", "nut", "pipe"])
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]

#: rows per table at scale factor 1 (documents and embeddings do not scale)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days * 86_400_000_000, n), pa.timestamp("us"))


def _day(rng, n, start, days):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, days, n) * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return pa.array(np.array(values, dtype=object)[rng.integers(len(values), size=n)])


def make_tables(seed: int, sf: float, n_docs: int = 500, n_vecs: int = 500) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 7])
    n = {k: max(1, int(v * sf)) for k, v in BASE_ROWS.items()}
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, s, -999.99, 9999.99)})
    p = n["part"]
    names = [f"{a} {b}" for a in PART_WORDS[0] for b in PART_WORDS[1]]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000, 500_000),
        "o_orderdate": _day(rng, o, "1995-01-01", 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, li), 2),
        "l_discount": np.round(rng.integers(0, 11, li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, li) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _day(rng, li, "1995-01-02", 2499)})
    e = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.sort(_ts(rng, e, "2024-01-01", 30).to_numpy()), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, e // 66), e), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.round(rng.exponential(50, e) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]})
    t["documents"] = _documents(rng, n_docs)
    vec = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(len(VOCAB), size=k)]))
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.choice(5, n, p=lang_p)]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write one parquet file per table; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
