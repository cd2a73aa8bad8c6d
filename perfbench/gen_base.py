"""Seeded base tables for the benchmark, in the testdata schema (TESTDATA.md).

``tools/make_sf.py`` scales a base directory up by replicating the
TPC-H-ish tables with key offsets and synthesising documents from the
base vocabulary. The benchmark may read only its own checkout, so it
writes that base itself: the same ten tables, column names and types
and value ranges as the sf0.01 testdata, drawn from ``--seed``.

Usage: python3 perfbench/gen_base.py OUT_DIR --seed N
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: base row counts (the sf0.01 testdata shape)
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
#: the testdata document vocabulary: one Gopher stopword ("the"),
#: "a", and "dup" as a rare word
VOCAB = [
    "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "value", "vector", "window", "the", "a",
]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]

_DAY = 86400


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * 1_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_base(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = SIZES

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, 5, n["customer"])]),
    })
    put("supplier", {
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    put("part", {
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": pa.array([
            f"{P_ADJ[a]} {P_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]),
                            rng.integers(0, 8, n["part"]))]),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])]),
        "p_type": pa.array([P_TYPES[i] for i in rng.integers(0, 6, n["part"])]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
    })
    day0 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) // _DAY
    order_days = day0 + rng.integers(0, 2404, n["orders"])
    put("orders", {
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]),
                              pa.int64()),
        "o_orderstatus": pa.array(
            [["F", "O", "P"][i] for i in rng.integers(0, 3, n["orders"])]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _ts(order_days * _DAY),
        "o_orderpriority": pa.array(
            [PRIORITIES[i] for i in rng.integers(0, 5, n["orders"])]),
    })
    l_order = rng.integers(0, n["orders"], n["lineitem"])
    put("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n["lineitem"]),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], n["lineitem"]),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 100000.0, n["lineitem"]),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
        "l_returnflag": pa.array(
            [["A", "N", "R"][i] for i in rng.integers(0, 3, n["lineitem"])]),
        "l_linestatus": pa.array(
            [["F", "O"][i] for i in rng.integers(0, 2, n["lineitem"])]),
        "l_shipdate": _ts((order_days[l_order] + rng.integers(1, 122,
                                                              n["lineitem"]))
                          * _DAY),
    })
    ev_secs = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) + np.sort(
        rng.integers(0, 30 * _DAY, n["events"]))
    put("events", {
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": _ts(ev_secs),
        "user_id": pa.array(rng.integers(0, 1500, n["events"]), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n["events"])]),
        "value": _money(rng, 0.0, 560.0, n["events"]),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]),
    })
    texts = []
    for ln in rng.integers(10, 101, n["documents"]):
        texts.append(" ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), ln)))
    for j in rng.choice(n["documents"], size=n["documents"] // 20,
                        replace=False):
        texts[j] += " dup"
    put("documents", {
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(
            [LANGS[i] for i in rng.choice(5, n["documents"], p=LANG_P)]),
        "source": pa.array(
            [f"src{i}" for i in rng.integers(0, 20, n["documents"])]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    write_base(args.out_dir, args.seed)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
