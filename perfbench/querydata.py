"""Seeded tables for the query-mix workload.

Writes the ten parquet tables the program's queries read (the TPC-H-like
star schema, an event stream, a text corpus and an embedding table) with
the column types and value domains of the sf0.01 test data set: the
same seed gives the same files. About 5% of the documents are near copies
of an earlier document (its text plus " dup") so the dedup queries find
pairs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}

VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()

US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def tables(seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n["customer"])})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    adj = rng.choice(["blue", "old", "small", "new", "hot", "large", "cold", "red"], n["part"])
    noun = rng.choice(["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"],
                      n["part"])
    out["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
                             n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n["orders"]) * US_PER_DAY),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n["orders"])})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], m),
        "l_linestatus": rng.choice(["O", "F"], m),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2499, m)) * US_PER_DAY)})
    e = n["events"]
    gaps = rng.exponential(30 * US_PER_DAY / e, e).astype(np.int64)
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.minimum(np.cumsum(gaps), 30 * US_PER_DAY - 1)),
        "user_id": rng.integers(0, 150, e),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(15, 85)))))
    out["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "es", "fr"], d, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    vec = rng.standard_normal((v, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(np.arange(0, 64 * v + 1, 64, dtype=np.int32),
                                              pa.array(vec.ravel())),
        "label": rng.integers(0, 10, v).astype(np.int32)})
    return out


def write(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
