"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's queries read (`region nation customer
supplier part orders lineitem events documents embeddings`, one parquet
file each) with the schema, value domains and row counts of the engine's
synthetic test data at a given scale factor. The same (seed, sf) always
gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
LABELS = 10


def _ts(start, n_units, unit, rng, n):
    base = np.datetime64(start, unit)
    return (base + rng.integers(0, n_units, n).astype(f"timedelta64[{unit}]")) \
        .astype("datetime64[us]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def doc_texts(rng, n):
    """`n` documents of 10..100 vocabulary words; 5% are a copy of an
    earlier document with ' dup' appended, so near-duplicate operators
    always find pairs."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return texts


def unit_vectors(rng, n, centers=None):
    """`n` unit vectors around `LABELS` seeded cluster centres; returns
    (vectors float32[n, DIM], labels int32[n], centers)."""
    if centers is None:
        centers = rng.normal(size=(LABELS, DIM))
    labels = rng.integers(0, LABELS, n).astype(np.int32)
    v = centers[labels] + rng.normal(scale=1.5, size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels, centers


def embedding_column(v):
    return pa.array(list(v), type=pa.list_(pa.float32()))


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {"r_regionkey": pa.array(range(5), i32),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), i32),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    n_cust = int(150_000 * sf)
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })

    n_supp = int(10_000 * sf)
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })

    n_part = int(200_000 * sf)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })

    n_ord = int(1_500_000 * sf)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", 2404, "D", rng, n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })

    n_li = int(6_000_000 * sf)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        # whole multiples of 4 cents: a sum of price * (1 - discount) then
        # counts 1/10000 units in a multiple of 4, so it never ends in exactly
        # half a cent, where rounding to two places would hang on the float
        # summation order (DuckDB and Spark add in different orders)
        "l_extendedprice": np.round(np.round(rng.uniform(900, 105_000, n_li) / 0.04) * 0.04, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts("1995-01-02", 2498, "D", rng, n_li),
    })

    n_ev = int(1_000_000 * sf)
    secs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": (np.datetime64("2024-01-01", "us") + secs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    n_doc = int(50_000 * sf)
    texts = doc_texts(rng, n_doc)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n_emb = int(20_000 * sf)
    vecs, labels, _ = unit_vectors(rng, n_emb)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": embedding_column(vecs),
        "label": pa.array(labels, i32),
    })
