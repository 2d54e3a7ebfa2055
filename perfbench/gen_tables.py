"""Seeded generator of the registry workload's tables.

Writes the TPC-H-ish star schema plus the `events`, `documents` and
`embeddings` side tables at the row counts and value domains of the
engine's sf0.1 test tables: one parquet file per table
(`<dir>/<name>.parquet`, one row group, timestamps as naive
microseconds). The same seed always writes the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.array(values, dtype=object)[rng.integers(0, len(values), n)]


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    n = ROWS
    ts_us = pa.timestamp("us")
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    k = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, k.size).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, k.size),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], k.size)})
    k = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, k.size).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, k.size)})
    k = np.arange(n["part"], dtype=np.int64)
    colors = _pick(rng, "blue cold hot large new old red small".split(), k.size)
    things = _pick(rng, "anvil bolt gear gizmo plate ring rod widget".split(), k.size)
    out["part"] = pa.table({
        "p_partkey": k, "p_name": [f"{a} {b}" for a, b in zip(colors, things)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k.size)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], k.size),
        "p_size": rng.integers(1, 51, k.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1)})
    k = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], k.size, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], k.size),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, k.size),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, k.size), ts_us),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], k.size)})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m, dtype=np.int64),
        "l_partkey": rng.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, m), ts_us)})
    k = np.arange(n["events"], dtype=np.int64)
    step = 30 * 86400 * 1_000_000 // k.size  # ascending over 30 days
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (
        k * step + rng.integers(0, step, k.size)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": k, "ts": pa.array(ts, ts_us),
        "user_id": rng.integers(0, 1500, k.size, dtype=np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], k.size),
        "value": np.round(rng.exponential(50.0, k.size), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k.size)]})
    out["documents"] = _documents(rng, n["documents"])
    k = np.arange(n["embeddings"], dtype=np.int64)
    g = rng.standard_normal((k.size, 64))
    g = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": k, "embedding": pa.array(list(g), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, k.size).astype(np.int32)})
    return out


def _documents(rng, n):
    """Five-language corpus over a 30-word vocabulary, 10-100 words per
    document; one document in twenty repeats an earlier document's text
    with a trailing `dup` token (near-duplicate pairs)."""
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    lang = np.where(rng.random(n) < 0.41, "en",
                    _pick(rng, ["de", "es", "fr", "zh"], n)).astype(object)
    k = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": k, "text": texts, "lang": lang,
        "source": [f"src{i % 20}" for i in k],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def write(directory, seed):
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"),
                       row_group_size=1 << 30)
