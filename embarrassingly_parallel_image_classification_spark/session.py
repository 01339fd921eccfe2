"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the same configs are what we'd set on a
real 1000-executor cluster (AQE on, Arrow on, sensible shuffle
parallelism). Nothing here is local-mode-specific except the master.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import pyworker

# At 100 TB these would be set per-cluster; locally they keep partition
# sizes sane at sf0.1 and below.
ENGINE_CONFS: dict[str, str] = {
    # Adaptive execution: runtime re-plan, partition coalescing, skew-join
    # splitting. This replaces all hand-tuned partition counts.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every JVM<->Python crossing (pandas UDFs, UDTFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.pythonUDTF.arrow.enabled": "true",
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Broadcast joins for dim tables (~10 MB default is fine; explicit
    # F.broadcast hints are used for the known-small dims anyway).
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # ANSI off: match DuckDB's permissive casts in oracle comparisons.
    "spark.sql.ansi.enabled": "false",
    # Parquet TIMESTAMP(NANOS) reads as ns-epoch BIGINT instead of failing
    # (events.ts in some fixture generations, see sources/tables.py); a
    # no-op for µs/ms files. Set for the whole session so no loader flips
    # it mid-run.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(app_name: str = "epic-spark", extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard confs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    confs = dict(ENGINE_CONFS)
    confs.setdefault("spark.sql.shuffle.partitions", cpus)
    confs.setdefault("spark.driver.memory", "16g")
    # Python workers fork from the engine's daemon, which re-reads a zip
    # directory only when the archive changed (see pyworker.py). A launch-
    # only conf, so it stays out of ENGINE_CONFS: apply_engine_confs runs
    # before every query and a static conf would fail there each time.
    confs.setdefault("spark.python.daemon.module", pyworker.__name__)
    if extra_conf:
        confs.update(extra_conf)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an externally-created session
    (the driver hands us one in ``entry(spark)``)."""
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static confs (e.g. driver.memory) can't change post-start
    return spark
