"""Seeded inputs for the benchmark.

`star(dir, seed, scale)` writes the ten parquet tables the graded queries
read (region ... embeddings), with the column names, types and value
domains of the engine's test data: uniform keys, 2-decimal money columns,
day-grained TIMESTAMP dates, a 30-word document vocabulary with planted
near-duplicates, and unit-norm 64-d embeddings clustered by label. One row
group per file, as the test data has. `scale` is the TPC-H scale factor.
No document sits exactly on the n-gram classifier's decision boundary
(see `clf_margin`).

`catalog(dir, seed, rows)` writes an integer `metadata.txt` + `tableN.csv`
catalog in the reference dialect's format and returns its schema.

The same (seed, scale) always yields byte-identical tables.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data query table row column key value join hash merge sort "
         "scan filter group agg window batch stream spark vector line order "
         "part customer small big fast slow").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64


def clf_margin(text):
    """The margin of the hashed n-gram classifier that the graded queries
    x74, x78, x81 and x82 apply (bias -0.1, weight (b * 2654435761 % 1000)
    / 1000 - 0.5 for md5 bucket b of 256, unigrams and bigrams of the
    space split), in thousandths so that it is exact. The queries keep a
    document when the margin is > 0. At a margin of exactly 0 that
    comparison is decided by rounding: the engine and DuckDB add the same
    doubles in different orders and may land on either side of 0.
    """
    toks = text.split(" ")
    feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    total = -100
    for g in feats:
        b = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % 256
        total += b * 2654435761 % 1000 - 500
    return total


def _document(rng, words):
    """Join words into a text, adding words while its classifier margin is
    exactly 0 (see clf_margin)."""
    while clf_margin(" ".join(words)) == 0:
        words = list(words) + [str(rng.choice(WORDS))]
    return " ".join(words)


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start, ndays, n):
    d = np.datetime64(start, "D") + rng.integers(0, ndays, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _write(path, cols):
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def star(out, seed, scale):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_ord = n_cust * 10
    n_line = n_ord * 4
    n_part = max(200, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_events = max(1000, int(1_000_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{rng.choice(ADJ)} {rng.choice(NOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)})

    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_events), i64),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]})

    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            src = texts[rng.integers(0, i)].split()
            texts.append(_document(
                rng, src[:max(5, int(len(src) * rng.uniform(0.2, 1.0)))] + ["dup"]))
        else:
            texts.append(_document(rng, rng.choice(WORDS, rng.integers(10, 100))))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    centers = rng.normal(0.0, 1.0, (10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] * 0.14 + rng.normal(0.0, 0.125, (n_vecs, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# Integer catalog in the reference dialect's format: metadata.txt blocks of
# <begin_table> / name / one column per line / <end_table>, and headerless
# CSVs. Column names are unique across tables. Every table's first and
# last columns share one key domain, so chains of equality filters join;
# the columns between hold values in [-1000, 1000).
CATALOG = {
    "table1": ["A", "B", "C"],
    "table2": ["D", "E", "F", "G"],
    "table3": ["H", "I", "J"],
    "table4": ["K", "M", "L"],
}
KEY_DOMAIN = 40


def catalog(out, seed, rows):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/metadata.txt", "w") as f:
        for name, cols in CATALOG.items():
            f.write("<begin_table>\n%s\n%s\n<end_table>\n" % (name, "\n".join(cols)))
    for name, cols in CATALOG.items():
        n = rows if name != "table4" else rows // 4
        data = np.empty((n, len(cols)), dtype=np.int64)
        data[:, 0] = rng.integers(0, KEY_DOMAIN, n)
        data[:, 1:] = rng.integers(-1000, 1000, (n, len(cols) - 1))
        data[:, -1] = rng.integers(0, KEY_DOMAIN, n)
        quoted = rng.random() < 0.5
        with open(f"{out}/{name}.csv", "w") as f:
            for row in data:
                vals = [f'"{v}"' if quoted else str(v) for v in row]
                f.write(",".join(vals) + "\n")
    return CATALOG
