"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine reads (see FIXTURES.md for
their schemas) as one parquet file each, from a seed alone, with the
same column names, physical types and value domains as the fixtures.
Sizes are given per table, so one generator serves both workloads:

* ``fixture_tables(seed, out_dir, FIXTURE_ROWS)`` — the star schema,
  event stream, documents and embeddings at sf0.01 row counts;
* ``infer_tables(seed, out_dir, replicas)`` — the same dimension tables
  plus an ``embeddings`` table of ``replicas`` × 2,000 rows, built as
  seeded jitter replicas of one 2,000-row base table: replica ``r``
  shifts ``vec_id`` by ``r * 2000`` and adds uniform noise of at most
  0.01 per coordinate, so replicas are distinct points with the base
  table's class geometry (the recipe of ``scripts/scale_ladder.py``).

The same seed yields byte-identical files (``digest`` hashes them).

    python3 perfbench/gen.py <out_dir> [seed] [replicas]
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.01 fixture (FIXTURES.md); region/nation are fixed.
FIXTURE_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
INFER_BASE_ROWS = 2_000
EMB_DIM = 64
N_LABELS = 10
# Rows per parquet row group: Spark splits a file only at row-group
# boundaries, so large tables need several groups to feed every core.
ROW_GROUP = 16_384

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_US_PER_DAY = 86_400 * 1_000_000


def _days_us(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    """n whole-day timestamps uniformly in [start, end], µs, no zone."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, domain: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.integers(0, len(domain), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _embeddings(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    X = rng.normal(0.0, 0.125, (n, EMB_DIM)).astype(np.float32)
    y = rng.integers(0, N_LABELS, n).astype(np.int32)
    return X, y


def _embedding_table(ids: np.ndarray, X: np.ndarray, y: np.ndarray) -> pa.Table:
    flat = pa.array(X.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, X.size + 1, EMB_DIM, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(y, pa.int32()),
        }
    )


def _star_tables(rng: np.random.Generator, rows: dict[str, int]) -> dict[str, pa.Table]:
    nc, ns, np_, no, nl = (
        rows["customer"], rows["supplier"], rows["part"], rows["orders"], rows["lineitem"]
    )
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(nc), pa.int64()),
                "c_name": _names("Customer", nc),
                "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                "c_mktsegment": _pick(rng, SEGMENTS, nc),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(ns), pa.int64()),
                "s_name": _names("Supplier", ns),
                "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, ns),
            }
        ),
    }
    adj = rng.integers(0, len(PART_ADJ), np_)
    noun = rng.integers(0, len(PART_NOUN), np_)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_), i32),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days_us(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days_us(rng, "1995-01-02", "2001-11-04", nl),
        }
    )
    return tables


def _events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    gaps = rng.exponential(26e6, n).astype(np.int64) + 1
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word soup over the fixture vocabulary; 5% of documents repeat an
    earlier one with a trailing " dup", as the fixture does."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _write(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=ROW_GROUP
        )


def fixture_tables(seed: int, out_dir: str, rows: dict[str, int] = FIXTURE_ROWS) -> dict[str, int]:
    """All ten fixture tables; returns their row counts."""
    rng = np.random.default_rng([seed, 1])
    tables = _star_tables(rng, rows)
    tables["events"] = _events(rng, rows["events"], max(rows["customer"] // 10, 1))
    tables["documents"] = _documents(rng, rows["documents"])
    X, y = _embeddings(rng, rows["embeddings"])
    tables["embeddings"] = _embedding_table(np.arange(len(y)), X, y)
    _write(tables, out_dir)
    return {name: t.num_rows for name, t in tables.items()}


def infer_tables(seed: int, out_dir: str, replicas: int) -> dict[str, int]:
    """Fixture tables with a ``replicas`` × 2,000-row embeddings table."""
    counts = fixture_tables(seed, out_dir)
    rng = np.random.default_rng([seed, 2])
    X0, y0 = _embeddings(rng, INFER_BASE_ROWS)
    path = os.path.join(out_dir, "embeddings.parquet")
    schema = _embedding_table(np.arange(0), X0[:0], y0[:0]).schema
    per_group = max(ROW_GROUP // INFER_BASE_ROWS, 1)
    with pq.ParquetWriter(path, schema) as writer:
        for r0 in range(0, replicas, per_group):
            k = min(per_group, replicas - r0)
            jitter = rng.uniform(-0.01, 0.01, (k,) + X0.shape).astype(np.float32)
            X = (X0[None] + jitter).reshape(-1, EMB_DIM)
            ids = np.arange(k * INFER_BASE_ROWS) + r0 * INFER_BASE_ROWS
            writer.write_table(_embedding_table(ids, X, np.tile(y0, k)))
    counts["embeddings"] = replicas * INFER_BASE_ROWS
    return counts


def digest(out_dir: str) -> str:
    """SHA-256 over every generated file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        h.update(name.encode())
        with open(os.path.join(out_dir, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


if __name__ == "__main__":
    out = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    replicas = int(sys.argv[3]) if len(sys.argv) > 3 else 0
    counts = infer_tables(seed, out, replicas) if replicas else fixture_tables(seed, out)
    print(counts, digest(out))
