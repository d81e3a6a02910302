"""Benchmark inputs.

Two kinds of input, kept apart on purpose:

* ``write_tables`` writes the engine's ten parquet tables (the TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``) with the
  column names, types and parquet encodings the engine reads.  The tables
  come from a fixed data seed, so every run of every workload queries the
  same rows and the stored query checksums stay valid.
* ``query_mix_plan``, ``etl_plan`` and ``stream_payloads`` derive what a
  run does from ``--seed``: the query order of each pass, the as-of
  months of the ETL cycles and the bytes of every streamed payload.  The
  same seed gives the same inputs.
"""

import datetime as dt
import json
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# Bump when the table contents change, so cached copies are rebuilt.
DATA_VERSION = 1

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
EMBED_DIM = 64


def _ts(days_from, days_to, n, rng, start="1995-01-01"):
    """Naive microsecond timestamps at midnight, uniform over a day range."""
    base = np.datetime64(start, "us")
    days = rng.integers(days_from, days_to, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"), pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def table_sizes(scale):
    """Row counts per table; ``scale`` 0.01 matches the engine's sf0.01."""
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
        "users": max(15, int(15_000 * scale)),
    }


def build_tables(scale):
    """All ten tables as pyarrow tables, from the fixed data seed."""
    rng = np.random.default_rng(DATA_SEED)
    n = table_sizes(scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(-999.99, 9999.99, nc, rng),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(-999.99, 9999.99, ns, rng)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, npart),
                                              rng.choice(P_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(P_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) / 10, 1)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(1000, 500000, no, rng),
        "o_orderdate": _ts(0, 2404, no, rng),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(900, 105000, nl, rng),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(1, 2499, nl, rng)})
    ne = n["events"]
    gaps = rng.integers(1, 518_400_000, ne)  # mean ~4.3 min, in us
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k)))
             for k in rng.integers(10, 100, nd)]
    t["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centers[labels] + rng.normal(0, 1.5, (nv, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_tables(out_dir, scale):
    for name, table in build_tables(scale).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet",
                       compression="snappy")


# ---------------------------------------------------------------- workloads

def query_mix_plan(seed, queries, passes):
    """One shuffled copy of ``queries`` per pass, reproducible per seed."""
    rng = random.Random(f"query_mix:{seed}")
    plan = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        plan.append(order)
    return plan


# As-of months whose trailing and forward windows all intersect the
# generated ship dates (1995-01 .. 2001-11).
AS_OF_MONTHS = [f"{y}-{m:02d}-01" for y in range(1996, 2001)
                for m in range(1, 13)]


def etl_plan(seed, cycles, avoid_first=None):
    """Seed-chosen as-of month for each ETL cycle, no month twice in a row
    (nor ``avoid_first`` first: the month the warm-up cycle loaded)."""
    rng = random.Random(f"etl_cycle:{seed}")
    months = []
    while len(months) < cycles:
        m = rng.choice(AS_OF_MONTHS)
        if m != (months[-1] if months else avoid_first):
            months.append(m)
    return months


ROWS_PER_PAYLOAD = 100
# Event time advances a fixed step per event, so arrival order is event
# time order (the spike detector's ordering contract).
EVENT_STEP_MS = 250
EVENT_EPOCH_MS = int(dt.datetime(2024, 1, 1,
                                 tzinfo=dt.timezone.utc).timestamp() * 1000)


def stream_payloads(seed, count, rate_per_s, users):
    """``count`` producer payloads: newline-free JSON objects of 100 rows.

    Each row carries ``feature0`` = value, ``feature1`` = user id,
    ``feature2`` = event time (epoch ms), ``feature3`` = the payload's due
    time in ms after the stream's start, and ``label`` = event type.
    """
    rng = random.Random(f"stream_ingest:{seed}")
    out = []
    for p in range(count):
        due_ms = p * 1000.0 / rate_per_s
        rows = {}
        for r in range(ROWS_PER_PAYLOAD):
            i = p * ROWS_PER_PAYLOAD + r
            value = round(max(0.01, rng.expovariate(1 / 50.0)), 2)
            rows[str(r)] = {
                "feature0": value,
                "feature1": float(rng.randrange(users)),
                "feature2": float(EVENT_EPOCH_MS + i * EVENT_STEP_MS),
                "feature3": due_ms,
                "label": rng.choice(EVENT_TYPES)}
        out.append(json.dumps(rows, separators=(",", ":")))
    return out
