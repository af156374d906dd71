"""Seeded input generator for the graft benchmark.

Writes graft's table layout (one parquet file per table, the schemas of
the TPC-H-shaped star plus `events`, `documents` and `embeddings`) from
a seed alone: the same seed gives byte-identical files, another seed
gives the same row counts with different contents.

The value domains follow the shapes graft's queries and oracles expect:
uniform keys over each dimension (orders only from the customers whose
key is not divisible by three), one to seven line numbers per order (not
unique, as in the reference data), a 30-word document vocabulary
with about 5% planted near-duplicate copies, and unit-norm 64-d
embeddings around ten weak label centres.

Everything runs in this one process; numpy is single-threaded here and
pyarrow's pool is capped at the machine's core count.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "small", "large", "black", "white"]
THINGS = ["widget", "bolt", "ring", "gear", "valve", "spring"]
PTYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
DAY_US = 86_400_000_000

# Row counts per unit of scale factor, as in the reference data (sf1).
PER_SF = {"orders": 1_500_000, "lineitem": 6_000_000, "customer": 150_000,
          "part": 200_000, "supplier": 10_000, "events": 1_000_000,
          "documents": 50_000, "embeddings": 20_000}


def _ts(base_us, offsets_us):
    return pa.array(base_us + offsets_us, type=pa.timestamp("us"))


def _epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ordering_custkeys(rng, nc, n):
    """`n` customer keys drawn uniformly from those in [0, nc) that are not
    divisible by three: as in TPC-H's dbgen, a third of the customers
    place no orders, so the anti and outer joins have rows to find.
    Needs nc >= 2."""
    k = rng.integers(0, nc - (nc + 2) // 3, n, dtype=np.int64)
    return 3 * (k // 2) + 1 + k % 2


def star(rng, sf):
    """The TPC-H-shaped tables at scale factor `sf`."""
    n = {k: max(1, int(v * sf)) for k, v in PER_SF.items()}
    no, nl, nc, npart, ns = (n["orders"], n["lineitem"], n["customer"],
                             n["part"], n["supplier"])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})
    pnames = [f"{COLORS[a]} {THINGS[b]}" for a, b in
              zip(rng.integers(0, len(COLORS), npart),
                  rng.integers(0, len(THINGS), npart))]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(pnames),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, npart)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2))})
    t0 = _epoch_us(1995, 1, 1)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(_ordering_custkeys(rng, nc, no)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng, 900.0, 500000.0, no)),
        "o_orderdate": _ts(t0, rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, no)])})
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[
            rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(t0, rng.integers(1, 2500, nl) * DAY_US)})
    return t


def events(rng, n, users):
    """`n` events over 30 days of January 2024, in event-time order."""
    off = np.sort(rng.integers(0, 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(_epoch_us(2024, 1, 1), off),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(_money(rng, 0.01, 490.02, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n)])})


def documents(rng, n, dup_share=0.05):
    """`n` documents of 10-99 vocabulary words; `dup_share` of them copy
    an earlier document, half of those with one extra token, so the
    near-duplicate structure (and the shingle statistics) is fixed."""
    vocab = np.array(VOCAB)
    texts = []
    dups = rng.random(n) < dup_share
    lens = rng.integers(10, 100, n)
    for i in range(n):
        if dups[i] and i > 0:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" if rng.random() < 0.5 else src)
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})


def embeddings(rng, n):
    """`n` unit-norm float32 vectors around ten weak label centres."""
    centres = rng.normal(size=(10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n)
    x = 0.15 * centres[labels] + rng.normal(size=(n, DIM)) / 8.0
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(x.reshape(-1)), DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


# What each workload reads, and at what size. The sizes are the stated
# input sizes of BENCHMARK.json's workloads (see README.md).
WORKLOADS = {
    "sql_short": {"sf": 0.002, "events": 4_000, "users": 150,
                  "embeddings": 100},
    "iter_jobs": {"sf": 0.001, "embeddings": 400},
    "curate_chain": {"documents": 1_000, "embeddings": 400},
    "stream_ingest": {"documents": 1_200, "events": 12_000, "users": 300},
}


def generate(workload, seed, out_dir):
    """Write `workload`'s tables for `seed` under `out_dir`; returns the
    table names written."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    tables = {}
    if "sf" in spec:
        tables.update(star(rng, spec["sf"]))
    if "events" in spec:
        tables["events"] = events(rng, spec["events"], spec["users"])
    if "documents" in spec:
        tables["documents"] = documents(rng, spec["documents"])
    if "embeddings" in spec:
        tables["embeddings"] = embeddings(rng, spec["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return sorted(tables)


pa.set_cpu_count(os.cpu_count() or 1)
pa.set_io_thread_count(os.cpu_count() or 1)
