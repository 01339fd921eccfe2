"""Fixture-table loaders.

All fixture tables live as single parquet files under a scale-factor
directory (see FIXTURES.md). Loading is a plain columnar parquet scan —
predicate pushdown / column pruning verified in tests/test_plans.py.

Schemas are resolved once per file (``parquet_schema``): Spark infers a
file's schema with a job, and the answer is kept in a module-level dict
keyed on the file's identity (absolute path, inode, mtime in ns, size)
plus every conf that changes parquet schema inference
(``SCHEMA_CONFS``); loads then read with the schema supplied, which
launches no job. Only the single-file fixture tables are cached, and
every fixture read goes through this module (tests/test_schema_cache.py
lints for it). Lakehouse reads are not cached: their file sets change
with every commit and their logical schemas can differ from the
physical ones. The key is re-read on every call, so a rewritten file
(new mtime, and usually a new size or inode) or a flipped conf misses
and is inferred again. The one rewrite a stat cannot see, same size and
same inode inside one filesystem timestamp tick, does not happen to
fixture files, which are written once per directory.

At 100 TB the same call reads a partitioned parquet/iceberg layout;
everything downstream consumes a DataFrame, so only the schema key (one
``os.stat`` of one local file today) would change, to the table
format's snapshot id.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Session confs whose value changes the schema Spark infers from a
# parquet footer; each is part of the schema cache key.
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

_SCHEMA_CACHE: dict[tuple, StructType] = {}


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """Spark's inferred schema of the parquet file at ``path``, inferred
    once per (file identity, inference confs) — see the module docstring."""
    path = os.path.abspath(path)
    st = os.stat(path)
    key = (
        path,
        st.st_ino,
        st.st_mtime_ns,
        st.st_size,
        tuple(spark.conf.get(k) for k in SCHEMA_CONFS),
    )
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = _SCHEMA_CACHE[key] = spark.read.parquet(path).schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_events_ts(df) if name == "events" else df


def normalize_events_ts(raw: DataFrame) -> DataFrame:
    """events.ts has shipped as parquet TIMESTAMP(NANOS) in some fixture
    generations and TIMESTAMP(MICROS) in others, so branch on what the
    file actually contains instead of assuming either.

    TIMESTAMP(NANOS) is rejected by Spark's vectorized reader
    ([PARQUET_TYPE_ILLEGAL]); with the legacy nanosAsLong conf (set for
    the whole session in session.ENGINE_CONFS, a no-op for µs/ms files)
    it reads as a ns-epoch BIGINT, which we rebuild into a µs timestamp
    via integer division — never float division: ns epochs ≈ 1.7e18
    exceed double's 53-bit mantissa and would corrupt low-order digits.

    TIMESTAMP(MICROS) (isAdjustedToUTC=false) loads natively as
    TIMESTAMP_NTZ; cast to the session-TZ timestamp type — the session
    TZ is pinned UTC (session.py), so the instants are unchanged and
    match the naive µs values DuckDB reads for the oracles.

    Shared by load_table and streaming/core.py's events_stream,
    so batch and stream always normalize the same way.
    """
    if isinstance(raw.schema["ts"].dataType, LongType):
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def cents(col: str | Column) -> Column:
    """Money as exact integer cents: HALF_UP of ``col * 100``, cast to
    BIGINT. The fixture's money columns carry two decimals, so every
    money sum, order and comparison runs on these integers and is exact
    in any partial-sum order (double sums diverge in the last ulp
    between engines). The oracles spell the same rule in their own SQL,
    ``CAST(ROUND(x * 100, 0) AS BIGINT)``; Spark plans both spellings
    as the same ``cast(round(x * 100.0, 0) as bigint)``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100, 0).cast("bigint")


def cents_sql(x: str) -> str:
    """``cents`` as Spark SQL text, for the lines whose surface under
    test is the SQL front end (``spark.sql`` texts, SQL function
    bodies): HALF_UP of the SQL expression `x` times 100, cast to
    BIGINT. It parses to the same expression as ``cents``."""
    return f"CAST(ROUND({x} * 100, 0) AS BIGINT)"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand used throughout the operator library."""
    return load_table(spark, sf_dir, name)
