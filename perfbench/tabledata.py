"""Seeded synthetic analytics tables in the engine's testdata layout.

The registry queries read ten parquet tables (``region nation customer
supplier part orders lineitem events documents embeddings``, one file
each) from a directory.  This module writes that directory from a seed,
with the column names, types, value domains and sf0.1 row counts of the
testdata (TPC-H-ish star schema, an ``events`` stream, a text corpus of
10-100 words from a 31-word vocabulary with planted near-duplicates, and
label-clustered 64-d unit embeddings), so the benchmark needs nothing
outside its own checkout.

The benchmark writes the tables from one fixed seed: like the read-only
testdata they are the same on every run, so every run measures the same
query work.  The run's ``--seed`` drives query order and the NEM feed
instead.

    python3 tabledata.py <out_dir>
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

# Row counts of the sf0.1 testdata, the scale the engine's own bench
# runs at (TESTDATA.md; documents and embeddings as its files hold).
ROWS = {
    "customer": 15000,
    "supplier": 1000,
    "part": 20000,
    "orders": 150000,
    "lineitem": 600000,
    "events": 100000,
    "documents": 5000,
    "embeddings": 2000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
N_LABELS = 10


def _ts(rng, n, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    n = ROWS["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n),
        }
    )
    n = ROWS["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = ROWS["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n), i64),
            "p_name": rng.choice(names, n),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
        }
    )
    n = ROWS["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), i64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": pa.array(
                _ts(rng, n, "1995-01-01", 2404).astype("datetime64[us]")
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n),
        }
    )
    n = ROWS["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": pa.array(
                _ts(rng, n, "1995-01-02", 2498).astype("datetime64[us]")
            ),
        }
    )
    n = ROWS["events"]
    gaps = rng.exponential(259.0, n) * 1e6
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]"
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, 150, n), i64),
            "event_type": rng.choice(EVENT_TYPES, n),
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    t["documents"] = _documents(rng, ROWS["documents"])
    t["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random word-salad documents; every sixth one is a near-duplicate
    (1-3 word edits) of an earlier document, so the dedup and
    similarity families find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 6 and i % 6 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    """Unit-norm float32 vectors clustered around one centroid per
    label; every tenth one nearly duplicates an earlier vector."""
    centroids = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n)
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n, EMB_DIM))
    for i in range(10, n, 10):
        j = int(rng.integers(0, i))
        vecs[i] = vecs[j] + rng.normal(0.0, 0.01, EMB_DIM)
        labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int = TABLE_SEED) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


if __name__ == "__main__":
    import sys

    write_tables(sys.argv[1])
