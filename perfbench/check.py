"""Untimed correctness gate and contention canary.

Each query's collected output is compared with its DuckDB oracle SQL
from ``registry.oracles()`` on the same generated data directory, with
the engine's exact, dtype-sensitive comparison (``verify.diff_exact``).
The inference workload is checked against a single-process NumPy
nearest-centroid recomputation over the generated embeddings file.
A raise or mismatch is returned as a message, never raised.
"""

from __future__ import annotations

import os
import time
import traceback

import duckdb
import numpy as np
import pyarrow.parquet as pq

from gen import FIXTURE_ROWS

TABLES = ("region", "nation", *FIXTURE_ROWS)

# bench.py's fixed single-threaded canary query; constant work, so its
# time moves with contention on the box, never with the engine's code.
CANARY_SQL = (
    "SELECT l_returnflag, l_linestatus, SUM(l_quantity), "
    "SUM(l_extendedprice * (1 - l_discount)), COUNT(*) "
    "FROM read_parquet('{path}') GROUP BY 1, 2 ORDER BY 1, 2"
)
CANARY_REPEATS = 10


def canary(data_dir: str) -> dict:
    la1, la5, la15 = os.getloadavg()
    con = duckdb.connect()
    try:
        con.execute("SET threads=1")
        sql = CANARY_SQL.format(path=os.path.join(data_dir, "lineitem.parquet"))
        t0 = time.perf_counter()
        for _ in range(CANARY_REPEATS):
            con.execute(sql).fetchall()
        dt = time.perf_counter() - t0
    finally:
        con.close()
    return {"loadavg_1m": la1, "loadavg_5m": la5, "loadavg_15m": la15, "duckdb_canary_s": dt}


def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_oracles(frame, data_dir: str, names: list[str], oracles: dict) -> dict[str, str]:
    """Per query: collect ``frame(name)``, compare with its oracle.
    Returns {name: failure message} for queries that raised or
    mismatched."""
    from embarrassingly_parallel_image_classification_spark.verify import diff_exact

    failures: dict[str, str] = {}
    con = _duck(data_dir)
    try:
        for name in names:
            try:
                got = frame(name).toPandas()
                sql = oracles.get(name)
                if sql is None:
                    if got.empty:
                        failures[name] = "rows-only query returned no rows"
                    continue
                if callable(sql):
                    sql = sql()
                want = con.execute(sql).fetchdf()
                if want.empty:
                    failures[name] = "oracle returned no rows; the check would be vacuous"
                    continue
                diff = diff_exact(got, want)
                if diff is not None:
                    failures[name] = diff
            except Exception:  # noqa: BLE001 - one failing query must not stop the gate
                failures[name] = traceback.format_exc(limit=3)
    finally:
        con.close()
    return failures


def numpy_predictions(data_dir: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vec_id, label, pred) of the nearest-centroid model, recomputed
    in one process: centroids are per-label float64 means, prediction is
    the argmin of -2x·c + ||c||² with ties to the lowest label."""
    table = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))
    emb = table.column("embedding").combine_chunks()
    dim = len(emb[0])
    X = emb.flatten().to_numpy().reshape(-1, dim).astype(np.float64)
    y = table.column("label").to_numpy()
    labels = np.unique(y)
    cents = np.stack([X[y == lab].mean(axis=0) for lab in labels])
    d = -2.0 * X @ cents.T + (cents * cents).sum(axis=1)
    pred = labels[np.argmin(d, axis=1)]
    return table.column("vec_id").to_numpy(), y, pred


def check_inference(frame, data_dir: str, names: list[str]) -> dict[str, str]:
    """q_infer_eval: accuracy and row count; q_infer_batch(_pbu): every
    prediction, all against ``numpy_predictions``."""
    failures: dict[str, str] = {}
    ids, y, pred = numpy_predictions(data_dir)
    order = np.argsort(ids)
    ids, y, pred = ids[order], y[order], pred[order]
    accuracy = round(float((pred == y).mean()), 6)
    for name in names:
        try:
            got = frame(name).toPandas()
            if name == "q_infer_eval":
                row = got.iloc[0]
                if int(row["n"]) != len(ids) or abs(float(row["accuracy"]) - accuracy) > 1e-9:
                    failures[name] = (
                        f"accuracy/n spark=({row['accuracy']}, {row['n']}) "
                        f"numpy=({accuracy}, {len(ids)})"
                    )
                continue
            got = got.sort_values("vec_id")
            same = (
                len(got) == len(ids)
                and np.array_equal(got["vec_id"].to_numpy(), ids)
                and np.array_equal(got["label"].to_numpy(), y)
                and np.array_equal(got["pred"].to_numpy(), pred)
            )
            if not same:
                bad = int((got["pred"].to_numpy() != pred).sum()) if len(got) == len(ids) else -1
                failures[name] = f"predictions differ from numpy: rows={len(got)}/{len(ids)} bad_preds={bad}"
        except Exception:  # noqa: BLE001 - one failing query must not stop the gate
            failures[name] = traceback.format_exc(limit=3)
    return failures
