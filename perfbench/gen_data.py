"""Seeded input tables for the benchmark.

Writes the ten parquet tables the engine's faces read (the schemas of the
engine's test fixtures: a TPC-H-like star schema, an `events` stream, a
`documents` corpus and its `embeddings`) into one directory. The same seed
and sizes always give the same bytes.

    python3 perfbench/gen_data.py OUT_DIR SEED DOCS EMBEDDINGS ROWS_SF
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
PART_WORDS = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pin", "spring"]
EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _write(out, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))


def _days(rng, n, lo, hi):
    return EPOCH_1995 + (rng.integers(lo, hi, n) * 86_400_000_000).astype("timedelta64[us]")


def documents(rng, n):
    """Word-salad documents over a 30-word vocabulary; about 5% repeat an
    earlier document's text with a ` dup` suffix (near-duplicates)."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors around `labels` weak centroids."""
    centroids = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    x = 0.6 * centroids[label] + rng.normal(0, 1, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def events(rng, n, users):
    gaps = rng.exponential(30 * 86_400 / n, n)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(["view", "click", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.exponential(40, n) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def star(rng, out, sf):
    customers, suppliers, parts = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    orders, lines = int(1_500_000 * sf), int(6_000_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(customers)]),
        "c_nationkey": pa.array(rng.integers(0, 25, customers).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, customers), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], customers))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(suppliers, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(suppliers)]),
        "s_nationkey": pa.array(rng.integers(0, 25, suppliers).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, suppliers), 2))})
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(PART_WORDS)} {rng.choice(PART_NOUNS)}"
                            for _ in range(parts)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, parts)]),
        "p_type": pa.array(rng.choice(
            ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], parts)),
        "p_size": pa.array(rng.integers(1, 51, parts).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(parts) % 1000) / 10, 2))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, orders).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["P", "F", "O"], orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, orders), 2)),
        "o_orderdate": pa.array(_days(rng, orders, 0, 2404)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], orders))})
    qty = rng.integers(1, 51, lines).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, lines).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, parts, lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, suppliers, lines).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, lines).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, lines) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], lines)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], lines)),
        "l_shipdate": pa.array(_days(rng, lines, 1, 2500))})


def generate(out, seed, docs, embeds, sf):
    """Writes every table into `out` (created if needed)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _write(out, "documents", documents(rng, docs))
    _write(out, "embeddings", embeddings(rng, embeds))
    _write(out, "events", events(rng, int(1_000_000 * sf), int(15_000 * sf)))
    star(rng, out, sf)


if __name__ == "__main__":
    o, s, d, e, f = sys.argv[1:6]
    generate(o, int(s), int(d), int(e), float(f))
