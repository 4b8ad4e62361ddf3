"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-like star schema plus `events`, `documents` and
`embeddings` that every graft query reads, one parquet file per table,
with the column names, types and value domains the queries expect:

    region nation customer supplier part orders lineitem events
    documents embeddings

Row counts scale with `sf` (lineitem is 6M x sf rows; documents and
embeddings never drop below 500 rows). The same (sf, seed) pair always
writes byte-identical tables, so outputs pinned on one generation hold on
every later one.

    python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated tables change; pins.json records the version it
# was taken on and the benchmark refuses pins from another version.
VERSION = 1

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(sf, seed):
    """Yield (name, pyarrow.Table) for every table at scale `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    ts = lambda a: pa.array(a, pa.timestamp("us"))

    yield "region", pa.table({"r_regionkey": i32(np.arange(5)),
                              "r_name": pa.array(REGIONS, pa.string())})
    yield "nation", pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": i32(np.arange(25) % 5)})
    yield "customer", pa.table({
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    yield "supplier", pa.table({
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", pa.table({
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(900.0 + rng.integers(0, 1000, n_part) / 10.0)})
    yield "orders", pa.table({
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": f64(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": ts(_days(rng, "1995-01-01", 2404, n_ord)),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    yield "lineitem", pa.table({
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": f64(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": ts(_days(rng, "1995-01-02", 2498, n_line))})
    month_us = 30 * 86400 * 10**6
    evt_ts = np.sort(rng.integers(0, month_us, n_evt)) + np.datetime64("2024-01-01", "us")
    yield "events", pa.table({
        "event_id": i64(np.arange(n_evt)),
        "ts": ts(evt_ts),
        "user_id": i64(rng.integers(0, n_users, n_evt)),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": f64(np.round(rng.exponential(50.0, n_evt), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
                          pa.string())})
    # 5% of documents are near-duplicates: another document's text plus a
    # trailing "dup" token, so the dedup, span and cluster queries find
    # real duplicate structure.
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n_docs)]
    dup_ids = rng.choice(n_docs, n_docs // 20, replace=False)
    for d in dup_ids:
        texts[d] = texts[int(rng.integers(0, n_docs))] + " dup"
    yield "documents", pa.table({
        "doc_id": i64(np.arange(n_docs)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": i64([len(t) for t in texts])})
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    yield "embeddings", pa.table({
        "vec_id": i64(np.arange(n_vecs)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vecs))})


def generate(out_dir, sf, seed=42):
    """Write every table under `out_dir` unless a finished copy is there."""
    done = os.path.join(out_dir, "_GENERATED")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"version={VERSION} sf={sf} seed={seed} at={dt.datetime.now(dt.timezone.utc)}\n")
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
