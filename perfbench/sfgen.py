"""Seeded TPC-H-style tables for the ``registry_queries`` workload.

Writes the ten tables the registry queries read (``region nation
customer supplier part orders lineitem events documents embeddings``,
one parquet file each) with the column names, types and value domains
of the repository's sf0.01 test tier, plus 2,000 documents so every
``doc_id < 2000`` query sees a full input. Generation runs in a child
process (``python3 sfgen.py <dir> <seed>``) before Spark starts; the
result is cached by (``VERSION``, seed).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

VERSION = 1
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

N_CUSTOMER, N_SUPPLIER, N_PART = 1500, 100, 2000
N_ORDERS, N_LINEITEM = 15000, 60000
N_EVENTS, N_DOCUMENTS, N_EMBEDDINGS, EMBED_DIM = 10000, 2000, 500, 64

VOCAB = ("a", "the", "row", "key", "agg", "scan", "slow", "fast", "table",
         "value", "part", "hash", "batch", "window", "spark", "order",
         "data", "column", "join", "small", "line", "customer", "query",
         "filter", "merge", "group", "big", "sort", "vector", "stream")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("red", "blue", "green", "hot", "small", "large", "shiny", "old")
PART_NOUN = ("ring", "widget", "bolt", "gear", "nut", "spring", "valve",
             "pipe")
PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "LARGE", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")


def _build(seed: int) -> dict:
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return [values[k] for k in rng.integers(0, len(values), n)]

    day = np.timedelta64(1, "D")
    order_date = (np.datetime64("1995-01-01")
                  + rng.integers(0, 2404, N_ORDERS) * day)
    li_order = np.sort(rng.integers(0, N_ORDERS, N_LINEITEM))
    starts = np.searchsorted(li_order, li_order, side="left")
    li_quantity = rng.integers(1, 51, N_LINEITEM).astype(float)
    retail = np.round(900 + np.arange(N_PART) % 1000 / 10, 2)
    li_part = rng.integers(0, N_PART, N_LINEITEM)

    docs = []
    for i in range(N_DOCUMENTS):
        if i >= 17 and i % 17 == 9:  # near-duplicates for the dedup queries
            docs.append(docs[i - 17] + " dup")
        else:
            docs.append(" ".join(pick(VOCAB, int(rng.integers(10, 100)))))

    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"], s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(N_CUSTOMER), i64),
            "c_name": pa.array([f"Customer#{k:09d}"
                                for k in range(N_CUSTOMER)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, N_CUSTOMER), f64),
            "c_mktsegment": pa.array(pick(SEGMENTS, N_CUSTOMER), s),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(N_SUPPLIER), i64),
            "s_name": pa.array([f"Supplier#{k:09d}"
                                for k in range(N_SUPPLIER)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, N_SUPPLIER), f64),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(N_PART), i64),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                pick(PART_ADJ, N_PART), pick(PART_NOUN, N_PART))], s),
            "p_brand": pa.array([f"Brand#{k}" for k in
                                 rng.integers(1, 26, N_PART)], s),
            "p_type": pa.array(pick(PART_TYPES, N_PART), s),
            "p_size": pa.array(rng.integers(1, 51, N_PART), i32),
            "p_retailprice": pa.array(retail, f64),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(N_ORDERS), i64),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), i64),
            "o_orderstatus": pa.array(pick(("F", "O", "P"), N_ORDERS), s),
            "o_totalprice": pa.array(money(1000, 500000, N_ORDERS), f64),
            "o_orderdate": pa.array(order_date.astype("datetime64[us]"), ts),
            "o_orderpriority": pa.array(pick(PRIORITIES, N_ORDERS), s),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(li_order, i64),
            "l_partkey": pa.array(li_part, i64),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM),
                                  i64),
            "l_linenumber": pa.array(np.arange(N_LINEITEM) - starts + 1, i32),
            "l_quantity": pa.array(li_quantity, f64),
            "l_extendedprice": pa.array(
                np.round(li_quantity * retail[li_part], 2), f64),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEM) / 100,
                                   f64),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEM) / 100, f64),
            "l_returnflag": pa.array(pick(("A", "N", "R"), N_LINEITEM), s),
            "l_linestatus": pa.array(pick(("F", "O"), N_LINEITEM), s),
            "l_shipdate": pa.array(
                (order_date[li_order]
                 + rng.integers(1, 122, N_LINEITEM) * day)
                .astype("datetime64[us]"), ts),
        }),
        "events": pa.table({
            "event_id": pa.array(range(N_EVENTS), i64),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                           + rng.integers(0, 30 * 86400 * 10**6, N_EVENTS)
                           .astype("timedelta64[us]"), ts),
            "user_id": pa.array(rng.integers(0, 150, N_EVENTS), i64),
            "event_type": pa.array(pick(EVENT_TYPES, N_EVENTS), s),
            "value": pa.array(money(0.01, 490.0, N_EVENTS), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in
                               rng.integers(0, 100, N_EVENTS)], s),
        }),
        "documents": pa.table({
            "doc_id": pa.array(range(N_DOCUMENTS), i64),
            "text": pa.array(docs, s),
            "lang": pa.array(pick(LANGS, N_DOCUMENTS), s),
            "source": pa.array([f"src{k % 20}" for k in range(N_DOCUMENTS)],
                               s),
            "n_chars": pa.array([len(t) for t in docs], i64),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(range(N_EMBEDDINGS), i64),
            "embedding": pa.array(
                list(rng.normal(0, 0.15, (N_EMBEDDINGS, EMBED_DIM))
                     .astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), i32),
        }),
    }


def write_tables(cache_dir: str, seed: int) -> str:
    """The table directory for ``seed``, generated in a child process
    on first use."""
    path = os.path.join(cache_dir, f"sf_v{VERSION}_s{seed}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), tmp,
                        str(seed)], check=True)
        os.rename(tmp, path)
    return path


if __name__ == "__main__":
    import pyarrow.parquet as pq

    out, data_seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out)
    for name, table in _build(data_seed).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
