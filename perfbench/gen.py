#!/usr/bin/env python3
"""Generate the benchmark's input tables as parquet, one file per table.

    python3 perfbench/gen.py <out_dir> <scale_factor>

The tables follow the engine's star schema (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with
the same column names and parquet types the engine's queries read.
Row counts scale with the factor: lineitem has about 6,000,000 * sf
rows. The data seed is fixed, so every call with one scale factor
writes the same rows; the workload seed only orders and parameterises
the operations run over them. (l_orderkey, l_linenumber) is unique.

Beside the tables, answers/ holds the benchmark's expected answers,
computed here with numpy from the same arrays, independently of Spark
and of the engine: per order key its lineitem count and row-hash sums,
per order its row hash, predicate match counts, every document's
language and length, and the top 1000 lineitems by price.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("a the data spark scan filter join hash merge sort group agg "
         "window stream batch row column table key value query order "
         "line part customer vector small big fast slow").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
ADJ = ["blue", "old", "small", "new", "red", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def ts(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))
    return cols


def cents(x):
    return np.round(np.asarray(x) * 100).astype(np.int64)


def lineitem_hash(li, quantity):
    """The benchmark's lineitem row hash; perfbench.Answers mirrors it."""
    h = ((li["l_orderkey"] * 8 + np.asarray(li["l_linenumber"], dtype=np.int64)) * 5003
         + cents(quantity) * 7 + cents(li["l_extendedprice"]) * 11
         + cents(li["l_discount"]) * 13 + cents(li["l_tax"]) * 17
         + li["l_partkey"] * 19 + li["l_suppkey"] * 23)
    return h % 1_000_000_007


def write_answers(out, li, orders, docs):
    ans = os.path.join(out, "answers")
    os.makedirs(ans, exist_ok=True)
    keys = li["l_orderkey"]
    n_ord = len(orders["o_orderkey"])
    qty = li["l_quantity"]
    lines = np.bincount(keys, minlength=n_ord)
    h0 = np.bincount(keys, weights=lineitem_hash(li, qty), minlength=n_ord)
    h1 = np.bincount(keys, weights=lineitem_hash(li, qty + 1000.0), minlength=n_ord)
    # bincount sums in float64; every sum stays below 2**53, so it is exact
    assert max(h0.max(), h1.max()) < 2 ** 53
    oh = (orders["o_orderkey"] * 5003 + cents(orders["o_totalprice"])) % 1_000_000_007
    with open(os.path.join(ans, "orders.tsv"), "w") as f:
        for k in range(n_ord):
            f.write(f"{k}\t{lines[k]}\t{int(h0[k])}\t{int(h1[k])}\t{oh[k]}\n")
    flags = np.array(li["l_returnflag"])
    prices = orders["o_totalprice"]
    with open(os.path.join(ans, "counts.tsv"), "w") as f:
        for fl in ("A", "N", "R"):
            for q in (5, 10, 25):
                f.write(f"li:{fl}:{q}\t{int(((flags == fl) & (qty < q)).sum())}\n")
        for m in range(7):
            f.write(f"mod7:{m}\t{int((keys % 7 == m).sum())}\n")
        for p in (100000, 250000, 400000):
            f.write(f"ord:{p}\t{int((prices > p).sum())}\n")
    with open(os.path.join(ans, "documents.tsv"), "w") as f:
        for i, (lang, n) in enumerate(zip(docs["lang"], docs["n_chars"])):
            f.write(f"{i}\t{lang}\t{n}\n")
    top = np.lexsort((li["l_linenumber"], keys, -li["l_extendedprice"]))[:1000]
    with open(os.path.join(ans, "topn.tsv"), "w") as f:
        for i in top:
            f.write(f"{keys[i]}\t{li['l_linenumber'][i]}\t{li['l_extendedprice'][i]!r}\n")


def generate(out, sf):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})

    okeys = np.arange(n_ord, dtype=np.int64)
    orders = write(out, "orders", {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": ts(EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_orderkey = np.repeat(okeys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    flag = rng.integers(0, 6, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    li = write(out, "lineitem", {
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flag],
        "l_linestatus": [("O", "F")[i % 2] for i in flag],
        "l_shipdate": ts(EPOCH_1995 + 1 + rng.integers(0, 2498, n_li) * DAY_US)})

    gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(np.int64)
    write(out, "events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, max(150, n_evt // 67), n_evt,
                                dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_evt)],
        "value": money(rng, 0.01, 490.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})

    # about 5% of documents are near-duplicates of an earlier one: the
    # same words plus a trailing "dup" marker, which gives the dedup and
    # graph queries real pair structure to find
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    docs = write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    write_answers(out, li, orders, docs)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]))
