"""Seeded generator of the star-schema tables the gate workloads read.

The tables have the column names, types and value ranges of the engine's
test tables (TPC-H-ish star schema plus `events`, `documents` and
`embeddings`), and each is written as a single parquet row group, so that
every scan is one partition as in the test tables. Row counts scale with
`sf` the same way: lineitem has 6M * sf rows. README.md compares the
make-up with that of the test tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("column join stream group big value vector fast data hash customer "
         "sort small merge window spark a row batch line filter order slow "
         "agg table key part query scan the").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
DAY_US = 86_400_000_000


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out_dir, name, columns, schema):
    table = pa.table(columns, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(_pick(rng, WORDS, k)) for k in lengths]
    # one document in twenty repeats another one with a trailing marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))].removesuffix(" dup") + " dup"
    return texts


def make_tables(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation",
           {"n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    _write(out_dir, "customer",
           {"c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust)},
           pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                      ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier",
           {"s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)},
           pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                      ("s_acctbal", f64)]))
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out_dir, "part",
           {"p_partkey": np.arange(n_part),
            "p_name": _pick(rng, names, n_part),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)},
           pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                      ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(out_dir, "orders",
           {"o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord)},
           pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                      ("o_orderstatus", s), ("o_totalprice", f64),
                      ("o_orderdate", ts), ("o_orderpriority", s)]))
    _write(out_dir, "lineitem",
           {"l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")},
           pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                      ("l_linenumber", i32), ("l_quantity", f64),
                      ("l_extendedprice", f64), ("l_discount", f64),
                      ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s),
                      ("l_shipdate", ts)]))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out_dir, "events",
           {"event_id": np.arange(n_evt),
            "ts": (start + np.sort(rng.integers(0, 30 * DAY_US, n_evt)))
            .astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_evt),
            "event_type": _pick(rng, EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
           pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))
    texts = _documents(rng, n_doc)
    _write(out_dir, "documents",
           {"doc_id": np.arange(n_doc), "text": texts,
            "lang": _pick(rng, LANGS, n_doc, LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                      ("source", s), ("n_chars", i64)]))
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings",
           {"vec_id": np.arange(n_emb), "embedding": list(vecs),
            "label": rng.integers(0, 10, n_emb).astype(np.int32)},
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))
