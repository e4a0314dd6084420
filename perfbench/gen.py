"""Seeded input generator for the benchmark.

The engine reads a directory of Parquet tables with the schemas in
``traj_sim_spark_spark.tables.SCHEMAS``. This module writes such a
directory from a seed, with no other input.

The table *contents* come from one fixed base draw shaped like the
engine's own test fixtures (word-soup documents with ~5% near-duplicates,
unit-norm 64-d embeddings in 10 label clusters, exponential event values
on a 30-day clock, a small TPC-H-like star schema). The ``--seed`` then
permutes which whole trajectory, document, vector or customer each
existing id carries. Every seed therefore holds the same amount of work,
while the ids the builders hard-code (users 1 and 2, vec 0, doc 0) carry
different data from seed to seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101
N_USERS = 150
N_EVENTS = 6_000
N_DOCS = 500
N_VECS = 500
DIM = 64
N_CUSTOMERS = 1_500
N_SUPPLIERS = 100
N_PARTS = 2_000
N_ORDERS = 15_000
N_LINES = 60_000

WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en"] * 44) + (["zh"] * 15) + (["es"] * 15) + (["de"] * 14) + (["fr"] * 12)
EVENT_TYPES = ["error", "signup", "purchase", "view", "click"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_US = pa.timestamp("us")


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base_tables() -> dict[str, pa.Table]:
    """The fixed content every seed permutes."""
    rng = np.random.default_rng(BASE_SEED)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
        }
    )
    pk = np.arange(N_PARTS, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, N_PARTS), rng.choice(NOUN, N_PARTS))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
            "p_type": rng.choice(P_TYPES, N_PARTS),
            "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
            "p_retailprice": np.round(900 + (pk % 1000) / 10, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
            "o_orderdate": pa.array(_days(rng, "1995-01-01", "2001-08-01", N_ORDERS), _US),
            "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINES).astype(np.int64),
            "l_partkey": rng.integers(0, N_PARTS, N_LINES).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINES).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINES).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, N_LINES),
            "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], N_LINES),
            "l_linestatus": rng.choice(["O", "F"], N_LINES),
            "l_shipdate": pa.array(_days(rng, "1995-01-02", "2001-10-01", N_LINES), _US),
        }
    )
    # events: one monotone 30-day clock, iid users / types / exp(50) values
    secs = np.sort(rng.uniform(0, 30 * 86400 - 1, N_EVENTS))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    t["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(t0 + (secs * 1e6).astype("timedelta64[us]"), _US),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    # documents: word soup; ~5% are an earlier document plus " dup"
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    # embeddings: unit vectors around 10 label centres
    centres = rng.normal(size=(10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, N_VECS)
    vecs = 0.2 * centres[labels] + rng.normal(scale=1 / 8, size=(N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )
    return t


def _relabel(table: pa.Table, column: str, perm: np.ndarray) -> pa.Table:
    """Replace id ``i`` in ``column`` by ``perm[i]`` (ids are 0..n-1)."""
    col = table.column(column).to_numpy()
    idx = table.schema.get_field_index(column)
    return table.set_column(idx, column, pa.array(perm[col], table.schema.field(column).type))


def tables_for_seed(seed: int) -> dict[str, pa.Table]:
    """Base content with ids permuted by ``seed``."""
    t = _base_tables()
    rng = np.random.default_rng(seed)
    t["events"] = _relabel(t["events"], "user_id", rng.permutation(N_USERS))
    t["documents"] = _relabel(t["documents"], "doc_id", rng.permutation(N_DOCS)).sort_by("doc_id")
    t["embeddings"] = _relabel(t["embeddings"], "vec_id", rng.permutation(N_VECS)).sort_by("vec_id")
    cust = rng.permutation(N_CUSTOMERS)
    t["customer"] = _relabel(t["customer"], "c_custkey", cust).sort_by("c_custkey")
    t["orders"] = _relabel(t["orders"], "o_custkey", cust)
    return t


def _source_hash() -> str:
    """Hash of this file: a change to the generator gets a new directory."""
    with open(os.path.abspath(__file__), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def ensure_inputs(root: str, seed: int) -> str:
    """Write (once) and return the input directory for ``seed``. The
    directory name carries the seed and a hash of this generator."""
    out = os.path.join(root, f"seed{seed}-{_source_hash()}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, table in tables_for_seed(seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write(dt.datetime.now(dt.timezone.utc).isoformat())
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def row_counts(sf_dir: str) -> dict[str, int]:
    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(sf_dir, f)).metadata.num_rows
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    }
