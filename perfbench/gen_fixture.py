"""Deterministic fixture generator for the benchmark.

Writes the ten engine tables (region ... embeddings) as one parquet file
each, with the column names, physical types and value distributions of the
engine's test fixture family (FIXTURES.md section B): uniform keys, an
80-order-month `orders` calendar (1995-01 .. 2001-08), a 30-day `events`
stream with increasing timestamps, word-salad `documents` and unit-norm
64-dimensional `embeddings`.

The fixture is a pure function of (scale, FIXTURE_SEED). It does not depend
on the benchmark's run seed: every run measures the same tables, and the run
seed only varies query order and the ingest month sequence.

Usage: python3 perfbench/gen_fixture.py <out_dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
DEFAULT_SCALE = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

ORDER_START = np.datetime64("1995-01-01")
ORDER_END = np.datetime64("2001-08-01")
SHIP_END = np.datetime64("2001-11-04")
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86400 * 1_000_000


def _days(rng, lo, hi, n):
    span = int((hi - lo).astype(int))
    d = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(scale):
    """Yield (name, pyarrow.Table) for every fixture table at `scale`."""
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust = max(10, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(20, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_line = n_ord * 4
    n_ev = max(100, int(1_000_000 * scale))
    n_users = max(10, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)})
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    yield "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                  2)})
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, ORDER_START, ORDER_END, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    # (l_orderkey, l_linenumber) is NOT unique, as in the engine fixtures;
    # Tables.lineitemKey's four columns are, because extended prices are
    # drawn from a continuum and keyed rows almost never collide.
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    yield "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, ORDER_START + 1, SHIP_END, n_line)})
    gaps = rng.exponential(1.0, n_ev)
    offs = np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_US - 1)
    ts = EVENTS_START + offs.astype(np.int64).astype("timedelta64[us]")
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # a few exact and near duplicates, so duplicate-group queries find
    # groups as they do on the engine fixtures
    for i in range(0, n_docs - 1, 50):
        words = texts[i].split()
        words[-1] = rng.choice(WORDS)
        texts[i + 1] = " ".join(words)
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": rng.integers(44, 578, n_docs).astype(np.int64)})
    emb = rng.normal(0, 1, (n_docs, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_docs).astype(np.int32)})


def write(out_dir, scale=DEFAULT_SCALE):
    """Write every table to `<out_dir>/<name>.parquet`; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(scale):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    print(write(sys.argv[1],
                float(sys.argv[2]) if len(sys.argv) > 2 else DEFAULT_SCALE))
