"""Seeded star-schema generator for the gated-query workload.

Writes the ten tables the query registry reads (``<table>.parquet`` each,
the layout ``catalog.star_path`` expects) with the column names, types and
value domains of the project's star-schema fixture, at about the size of
its smallest scale factor. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
    "events": 1000, "documents": 500, "embeddings": 500, "users": 150,
}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "small", "hot", "old", "large", "blue", "cold", "new")
PART_NOUN = ("plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "valve")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window", "index",
)
DIM = 64
EPOCH = dt.datetime(1995, 1, 1)


def _table(cols: dict, schema: list[tuple[str, pa.DataType]]) -> pa.Table:
    return pa.table({n: pa.array(cols[n], type=t) for n, t in schema})


def _ts(base: dt.datetime, seconds: float) -> dt.datetime:
    return base + dt.timedelta(microseconds=int(seconds * 1_000_000))


def generate(seed: int) -> dict[str, pa.Table]:
    rng = random.Random(seed)
    n = SIZES
    out: dict[str, pa.Table] = {}
    out["region"] = _table(
        {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
        [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    out["nation"] = _table(
        {"n_nationkey": list(range(25)),
         "n_name": [f"NATION_{i}" for i in range(25)],
         "n_regionkey": [i % 5 for i in range(25)]},
        [("n_nationkey", pa.int32()), ("n_name", pa.string()),
         ("n_regionkey", pa.int32())])
    out["customer"] = _table(
        {"c_custkey": list(range(n["customer"])),
         "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
         "c_nationkey": [rng.randrange(25) for _ in range(n["customer"])],
         "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                       for _ in range(n["customer"])],
         "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])]},
        [("c_custkey", pa.int64()), ("c_name", pa.string()),
         ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
         ("c_mktsegment", pa.string())])
    out["supplier"] = _table(
        {"s_suppkey": list(range(n["supplier"])),
         "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
         "s_nationkey": [rng.randrange(25) for _ in range(n["supplier"])],
         "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                       for _ in range(n["supplier"])]},
        [("s_suppkey", pa.int64()), ("s_name", pa.string()),
         ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())])
    prices = [round(900 + rng.randrange(1000) / 10, 2) for _ in range(n["part"])]
    out["part"] = _table(
        {"p_partkey": list(range(n["part"])),
         "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                    for _ in range(n["part"])],
         "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])],
         "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
         "p_size": [rng.randrange(1, 51) for _ in range(n["part"])],
         "p_retailprice": prices},
        [("p_partkey", pa.int64()), ("p_name", pa.string()),
         ("p_brand", pa.string()), ("p_type", pa.string()),
         ("p_size", pa.int32()), ("p_retailprice", pa.float64())])

    orders: dict[str, list] = {k: [] for k in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")}
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate")}
    for ok in range(n["orders"]):
        odate = EPOCH + dt.timedelta(days=rng.randrange(2400))
        total = 0.0
        for ln in range(1, rng.randrange(1, 8) + 1):
            pk = rng.randrange(n["part"])
            qty = float(rng.randrange(1, 51))
            ext = round(qty * prices[pk] * rng.uniform(0.99, 1.01), 2)
            total += ext
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(pk)
            li["l_suppkey"].append(rng.randrange(n["supplier"]))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(ext)
            li["l_discount"].append(rng.randrange(11) / 100)
            li["l_tax"].append(rng.randrange(9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate + dt.timedelta(days=rng.randrange(1, 100)))
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(n["customer"]))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
    out["orders"] = _table(orders, [
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())])
    out["lineitem"] = _table(li, [
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))])

    month = 30 * 86400
    stamps = sorted(rng.uniform(0, month) for _ in range(n["events"]))
    out["events"] = _table(
        {"event_id": list(range(n["events"])),
         "ts": [_ts(dt.datetime(2024, 1, 1), s) for s in stamps],
         "user_id": [rng.randrange(n["users"]) for _ in range(n["events"])],
         "event_type": [rng.choice(EVENT_TYPES) for _ in range(n["events"])],
         "value": [round(rng.uniform(0.01, 500), 2) for _ in range(n["events"])],
         "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n["events"])]},
        [("event_id", pa.int64()), ("ts", pa.timestamp("us")),
         ("user_id", pa.int64()), ("event_type", pa.string()),
         ("value", pa.float64()), ("props", pa.string())])

    texts: list[str] = []
    for i in range(n["documents"]):
        if texts and rng.random() < 0.1:  # near-duplicate of an earlier doc
            toks = rng.choice(texts).split()
            toks[rng.randrange(len(toks))] = rng.choice(VOCAB)
        else:
            toks = [rng.choice(VOCAB) for _ in range(rng.randrange(10, 101))]
        texts.append(" ".join(toks))
    out["documents"] = _table(
        {"doc_id": list(range(n["documents"])), "text": texts,
         "lang": [rng.choice(LANGS) for _ in texts],
         "source": [f"src{i % 20}" for i in range(len(texts))],
         "n_chars": [len(t) for t in texts]},
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())])
    out["embeddings"] = embeddings(rng, n["embeddings"])
    return out


def embeddings(rng: random.Random, count: int) -> pa.Table:
    """Unit-norm 64-d vectors around ten label centroids."""
    centroids = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(count):
        label = rng.randrange(10)
        v = [c + rng.gauss(0, 0.6) for c in centroids[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(label)
    return _table(
        {"vec_id": list(range(count)), "embedding": vecs, "label": labels},
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())])


def write_star(root: str, seed: int) -> dict[str, int]:
    """Write every table under ``root``; returns row counts."""
    os.makedirs(root, exist_ok=True)
    counts = {}
    for name, table in generate(seed).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
