"""Seeded inputs for the SparkEntry queries.

Writes the ten tables of TESTDATA.md's layout (region nation customer
supplier part orders lineitem events documents embeddings) as one parquet
file each. Columns are drawn independently and uniformly unless noted,
matching the library's test data; the same seed always gives the same
files. Timestamps are written as timestamp[us] without a time zone, as the
test data stores them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORDS = ("a the row scan sort hash key join agg group order line part value table "
         "data column vector window stream batch merge filter query spark small big "
         "fast slow customer").split()


class Scale:
    """Row counts scale with sf as TESTDATA's do (lineitem = 6M x sf); the
    text and vector corpora are sized separately, because the pipeline
    operators scale with them and not with sf."""

    def __init__(self, sf, docs, vecs):
        self.sf, self.docs, self.vecs = sf, docs, vecs
        self.lineitem = round(6_000_000 * sf)
        self.orders = round(1_500_000 * sf)
        self.customers = round(150_000 * sf)
        self.suppliers = max(10, round(10_000 * sf))
        self.parts = round(200_000 * sf)
        self.events = round(1_000_000 * sf)
        self.users = max(10, self.customers // 10)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, days, n):
    d = np.datetime64(start, "us") + rng.integers(0, days + 1, n) * np.timedelta64(1, "D")
    return pa.array(d, pa.timestamp("us"))


def _names(prefix, n):
    return pa.array([f"{prefix}{i:09d}" for i in range(n)], pa.string())


def tables(seed, s):
    """Yields (name, pyarrow.Table) for every table."""
    rng = lambda k: np.random.default_rng([seed, k])  # one stream per table
    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng(1)
    n = s.customers
    yield "customer", pa.table({
        "c_custkey": np.arange(n, dtype=np.int64), "c_name": _names("Customer#", n),
        "c_nationkey": r.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], n)})
    r = rng(2)
    n = s.suppliers
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n, dtype=np.int64), "s_name": _names("Supplier#", n),
        "s_nationkey": r.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n)})
    r = rng(3)
    n = s.parts
    adj = _pick(r, ["blue", "cold", "hot", "large", "new", "old", "red", "small"], n)
    noun = _pick(r, ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], n)
    yield "part", pa.table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": pc.binary_join_element_wise(adj, noun, " "),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)], pa.string()),
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": r.integers(1, 51, n).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    r = rng(4)
    n = s.orders
    yield "orders", pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": r.integers(0, s.customers, n),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _days(r, "1995-01-01", 2404, n),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], n)})
    r = rng(5)
    n = s.lineitem
    yield "lineitem", pa.table({
        "l_orderkey": r.integers(0, s.orders, n),
        "l_partkey": r.integers(0, s.parts, n),
        "l_suppkey": r.integers(0, s.suppliers, n),
        "l_linenumber": r.integers(1, 8, n).astype(np.int32),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, n),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(r, "1995-01-02", 2498, n)})
    r = rng(6)
    n = s.events
    # events arrive in id order over 30 days
    span_us = 30 * 86400 * 1_000_000
    offs = np.floor((np.arange(n) + r.random(n)) * (span_us / n)).astype(np.int64)
    yield "events", pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": r.integers(0, s.users, n),
        "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string())})
    yield "documents", _documents(rng(7), s.docs)
    yield "embeddings", _embeddings(rng(8), s.vecs)


def _documents(r, n):
    """10-100 words from a 30-word vocabulary; one document in twenty is a
    near-duplicate (an earlier document plus the token "dup"), which is
    what the dedup and component operators find."""
    texts = []
    for i in range(n):
        if i > 0 and r.integers(0, 20) == 0:
            texts.append(texts[r.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(WORDS[w] for w in r.integers(0, len(WORDS), r.integers(10, 101))))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"], dtype=object)
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64), "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[r.integers(0, len(langs), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(r, n):
    """Unit-normalised 64-d Gaussian vectors with a random label in 0..9."""
    v = r.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": r.integers(0, 10, n).astype(np.int32)})


def write(out_dir, seed, scale):
    """Writes every table into out_dir as <name>.parquet, and the row
    counts as rows.json."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, scale):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    with open(os.path.join(out_dir, "rows.json"), "w") as f:
        json.dump(rows, f)
