"""Seeded input snapshots for the benchmark.

A snapshot is the engine's ten input tables, one parquet file with one row
group each, in the schema the engine reads (see FIXTURES.md section 2). The
tables are built in two steps:

1. ``base_tables()`` draws one fixed base corpus from ``BASE_SEED``. Its
   sizes match the sf0.01 test tables and its value distributions mimic
   them: uniform TPC-H-like keys and measures, exponential event values,
   word-soup documents of which 5% are near-duplicates of an earlier
   document, and weakly clustered unit embeddings.
2. ``derive(base, seed)`` relabels every key domain (customer/user, part,
   supplier, order, doc, vec) with a permutation drawn from ``seed``,
   applied the same way in every table that carries the key, and shuffles
   the row order of every table with the same seed.

Non-key values, row counts, join structure, duplicate and skew structure and the
schema are the same for every seed; only key labels and row order move.
That keeps runs on different seeds comparable while still changing hash
partitioning and the stored-layout source stamps.

Usage: python3 perfbench/datagen.py --seed 7 --out /some/dir
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

# Row counts of the sf0.01 test tables.
SIZES = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}
TABLES = list(SIZES)

# Key domain -> (table, column) pairs that carry it. events.user_id draws
# from the first tenth of the customer keys, so it shares their domain.
DOMAINS = {
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey"),
                 ("events", "user_id")],
    "part": [("part", "p_partkey"), ("lineitem", "l_partkey")],
    "supplier": [("supplier", "s_suppkey"), ("lineitem", "l_suppkey")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
}
DOMAIN_SIZE = {"customer": "customer", "part": "part", "supplier": "supplier",
               "order": "orders", "doc": "documents", "vec": "embeddings"}

WORDS = ("a the data spark stream batch table row column key value join "
         "group sort merge filter scan agg hash window query order "
         "customer part line vector fast slow big small").split()
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DIM = 64


def _days(rng, start, end, n):
    """n midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    return np.datetime64(start) + rng.integers(0, span + 1, n).astype(
        "timedelta64[D]")


def _ts(days):
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables():
    """The fixed base corpus, as a dict of pyarrow tables."""
    rng = np.random.default_rng(BASE_SEED)
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": rng.choice(names, npart),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no)),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl))})
    ne = n["events"]
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, nc // 10, ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50.0, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: one marker word
            # appended, and sometimes one word substituted
            words = texts[rng.integers(0, i)].split()
            if rng.random() < 0.5:
                words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
            texts.append(" ".join(words + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 101))))
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.normal(size=(nv, DIM))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vecs = 0.14 * centers[labels] + noise
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def derive(base, seed):
    """Relabel every key domain and shuffle every table's rows with `seed`."""
    rng = np.random.default_rng([BASE_SEED, seed])
    out = dict(base)
    for domain, cols in DOMAINS.items():
        perm = rng.permutation(SIZES[DOMAIN_SIZE[domain]]).astype(np.int64)
        for table, col in cols:
            tb = out[table]
            keys = tb.column(col).to_numpy()
            i = tb.schema.get_field_index(col)
            out[table] = tb.set_column(i, tb.schema.field(i), pa.array(perm[keys]))
    for name in TABLES:
        out[name] = out[name].take(rng.permutation(out[name].num_rows))
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(tb.num_rows, 1), compression="snappy")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(derive(base_tables(), a.seed), a.out)


if __name__ == "__main__":
    main()
