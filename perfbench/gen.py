"""Seeded generator for the benchmark's input tables.

Writes the star schema the program reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file per table, with the column names, types and value
distributions of the repository's test data, plus the vocabulary search
requests draw from. The same (seed, sf) always gives the same files.

    python3 perfbench/gen.py <out_dir> <seed> <sf>
"""
import collections
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "small", "red", "blue", "old", "new", "hot"]
PART_NOUN = ["ring", "bolt", "gear", "widget", "gizmo", "plate", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMB_DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400 * 1_000_000        # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200 * 1_000_000      # 2024-01-01T00:00:00Z in µs


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def ts(us):
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def tables(seed, sf):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = pick(rng, PART_ADJ, n_part), pick(rng, PART_NOUN, n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": money(rng, 900.0, 999.9, n_part)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2500, n_line) * DAY_US)})
    evt_ts = np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": ts(EPOCH_2024 + evt_ts),
        "user_id": rng.integers(0, max(10, n_cust // 10), n_evt).astype("int64"),
        "event_type": pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    lens = rng.integers(10, 100, n_doc)
    words = pick(rng, WORDS, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(n_doc)]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n_emb, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def vocabulary(columns):
    """Lower-cased words of string columns, most frequent first."""
    counts = collections.Counter(
        w for c in columns for v in c.to_pylist()
        for w in re.split(r"[^a-z0-9]+", v.lower()) if len(w) > 1)
    return [w for w, _ in sorted(counts.items(), key=lambda x: (-x[1], x[0]))]


def main(out_dir, seed, sf):
    """Write the tables, and vocab.json: the words search requests draw
    their terms from, hottest first. Returns each table's row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    data = tables(seed, sf)
    for name, table in data.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    vocab = {
        "documents": vocabulary([data["documents"]["text"]]),
        "languages": vocabulary([data["documents"]["lang"]]),
        "entities": vocabulary([data["part"]["p_name"],
                                data["customer"]["c_mktsegment"],
                                data["events"]["event_type"],
                                data["orders"]["o_orderpriority"]])}
    with open(os.path.join(out_dir, "vocab.json"), "w") as f:
        json.dump(vocab, f)
    return rows


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
