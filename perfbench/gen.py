"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) as parquet files with the column names and physical types
of the project's test tables (FIXTURES.md section 1), at a scale factor
`sf` where sf 1 has 6,000,000 lineitem rows.  The same (sf, seed) always
gives byte-identical row values.

It also writes the reference workload's upsert delta batch, derived from a
run seed, and returns the expected result of that upsert.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
NOUNS = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMBED_DIM = 64

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cents(rng, lo, hi, n):
    """Uniform money values with two decimals, as float64."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _days(rng, start, end, n):
    """Uniform midnight timestamps in [start, end] (microseconds)."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def counts(sf):
    """Row counts per table at scale factor `sf`."""
    return {
        "region": 5, "nation": 25,
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def generate(out, sf, seed=42):
    os.makedirs(out, exist_ok=True)
    n = counts(sf)
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    i32, i64 = pa.int32(), pa.int64()

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})

    ns = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns))})

    np_ = n["part"]
    keys = np.arange(np_)
    _write(out, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJECTIVES, np_), rng.choice(NOUNS, np_))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(PART_TYPES, np_)),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0)})

    no = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, no)),
        "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1), no)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})

    nl = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 901.0, 104_999.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4), nl))})

    ne = n["events"]
    users = max(10, int(ne * 0.015))
    month_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, month_us, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") +
                       offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, users, ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.maximum(1, np.round(
            rng.exponential(5000.0, ne))) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})

    nd = n["documents"]
    lens = rng.integers(10, 100, nd)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # a fifth of the corpus are edited copies of an earlier document
    # (copies of copies form chains), so the near-duplicate operators
    # find clusters and their fixpoints iterate
    for i in np.flatnonzero(rng.random(nd) < 0.2):
        if i < 10:
            continue
        words = texts[rng.integers(0, i)].split()
        edit = rng.random(len(words)) < 0.05
        words = [str(rng.choice(WORDS)) if e else w for w, e in zip(words, edit)]
        texts[i] = " ".join(words)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    x = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})
    return n


def upsert_delta(data_dir, path, seed, size=2000):
    """Seeded customer delta batch for `WritePath.upsert`, plus the
    expected result: per key the highest `version` row wins, existing
    keys not in the batch are kept.  Half the batch updates existing
    customers, half inserts new keys; every key appears up to three
    times with distinct versions.  Returns the expected digest inputs
    (row count, sum of keys, sum of cents of the balance)."""
    cust = pq.read_table(os.path.join(data_dir, "customer.parquet"))
    nc = cust.num_rows
    rng = np.random.default_rng([seed, 7])
    keys = np.concatenate([rng.integers(0, nc, size // 2),
                           nc + rng.integers(0, size, size - size // 2)])
    version = rng.permutation(len(keys)).astype(np.int64)
    bal = _cents(rng, -999.99, 9999.99, len(keys))
    delta = pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, len(keys)), pa.int32()),
        "c_acctbal": pa.array(bal),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, len(keys))),
        "version": pa.array(version)})
    pq.write_table(delta, path)

    winner = {}
    for k, v, b in zip(keys.tolist(), version.tolist(), bal.tolist()):
        if k not in winner or v > winner[k][0]:
            winner[k] = (v, b)
    final = {k: int(round(b * 100)) for k, b in zip(
        cust.column("c_custkey").to_pylist(),
        cust.column("c_acctbal").to_pylist())}
    final.update({k: int(round(b * 100)) for k, (_, b) in winner.items()})
    return {"rows": len(final), "key_sum": sum(final),
            "cents_sum": sum(final.values())}
