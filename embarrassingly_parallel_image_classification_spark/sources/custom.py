"""A-family: custom batch connector via the Python DataSource API
(Spark 4, `pyspark.sql.datasource`) — SURVEY.md §7 later-rounds item.

A deterministic synthetic table source ("epic_synthetic"): rows are a
pure function of the row id, so the DuckDB oracle regenerates the same
table from `range()` and the driver's exact hash applies to a source
that Spark itself didn't read from disk. Demonstrates the full custom-
connector surface: options, schema declaration, partition planning
(N independent InputPartitions → N parallel tasks), and per-partition
iteration — the same mechanics a real REST/queue/foreign-format
connector needs at 100 TB (partition count drives parallelism; each
partition must be independently computable on any executor).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from .tables import cents, t

# value = (id * KNUTH) % MOD — integer-valued doubles, so partial sums
# are exact in any summation order (driver hash is exact; never expose
# an order-dependent float sum).
KNUTH = 2654435761
MOD = 1000


def _make_datasource():
    """Build the DataSource class lazily: pyspark.sql.datasource exists
    only on Spark 4+, and import-time failures must not shrink the
    registry (registry.py's loud-failure rule)."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class SyntheticReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", "1000"))
            self.parts = int(options.get("parts", "4"))

        def partitions(self):
            return [InputPartition(i) for i in range(self.parts)]

        def read(self, partition):
            i = partition.value
            lo = i * self.n // self.parts
            hi = (i + 1) * self.n // self.parts
            for rid in range(lo, hi):
                yield (rid, rid % 10, float((rid * KNUTH) % MOD))

    class SyntheticDataSource(DataSource):
        @classmethod
        def name(cls):
            return "epic_synthetic"

        def schema(self):
            return "id bigint, bucket int, value double"

        def reader(self, schema):
            return SyntheticReader(self.options)

    return SyntheticDataSource


def synthetic_table(spark: SparkSession, n: int = 10_000, parts: int = 8) -> DataFrame:
    """Register (idempotent) and read the epic_synthetic source."""
    spark.dataSource.register(_make_datasource())
    return (
        spark.read.format("epic_synthetic")
        .option("n", str(n))
        .option("parts", str(parts))
        .load()
    )


@register(
    "q_scan_custom_source",
    oracle=f"""
    SELECT CAST(id % 10 AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((id * {KNUTH}) % {MOD}) AS DOUBLE) AS sum_value,
           ROUND(AVG((id * {KNUTH}) % {MOD}), 6) AS avg_value
    FROM range(10000) t(id)
    GROUP BY 1
    """,
    tags=("A10",),
)
def q_scan_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a custom Python DataSource (8 planned partitions → 8
    parallel tasks) and aggregate it. The oracle regenerates the rows
    from DuckDB `range()` — identical by construction; the aggregate is
    over integer-valued doubles so every partial-sum order is exact."""
    df = synthetic_table(spark, n=10_000, parts=8)
    return df.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
    )


def _make_stream_datasource():
    """Streaming flavor of the synthetic source (lazy-built, same rule
    as _make_datasource): a DataSourceStreamReader whose offsets are
    plain row counts. latestOffset() advances a fixed chunk per
    microbatch; with trigger(availableNow) the engine drains to the
    cap and stops — a finite, deterministic stream."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _Range(InputPartition):
        def __init__(self, lo, hi):
            self.lo, self.hi = lo, hi

    class SyntheticStreamReader(DataSourceStreamReader):
        def __init__(self, options):
            self.total = int(options.get("n", "5000"))
            self.parts = int(options.get("parts", "4"))

        def initialOffset(self):
            return {"offset": 0}

        def latestOffset(self):
            # availableNow snapshots this ONCE and drains to it, so it
            # must report everything available — not a rate-limited
            # increment (that pattern is for continuous triggers).
            return {"offset": self.total}

        def partitions(self, start, end):
            lo, hi = start["offset"], end["offset"]
            n = hi - lo
            return [
                _Range(lo + i * n // self.parts, lo + (i + 1) * n // self.parts)
                for i in range(self.parts)
            ]

        def read(self, partition):
            for rid in range(partition.lo, partition.hi):
                yield (rid, rid % 10, float((rid * KNUTH) % MOD))

        def commit(self, end):
            pass

    class SyntheticStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "epic_synthetic_stream"

        def schema(self):
            return "id bigint, bucket int, value double"

        def streamReader(self, schema):
            return SyntheticStreamReader(self.options)

    return SyntheticStreamSource


@register(
    "q_stream_custom_source",
    oracle=f"""
    SELECT CAST(id % 10 AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((id * {KNUTH}) % {MOD}) AS DOUBLE) AS sum_value
    FROM range(5000) t(id)
    GROUP BY 1
    """,
    tags=("A10", "A8", "I8"),
)
def q_stream_custom_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource STREAMING reader end-to-end: offset
    tracking (row-count offsets), per-microbatch partition planning
    (4 executor-parallel ranges per batch), availableNow drain,
    complete-mode aggregate into a memory sink. The
    stream's final answer equals the batch regeneration from DuckDB
    range() — a fully oracle-checked custom streaming connector.
    latestOffset reports ALL available rows (availableNow snapshots it
    once); a rate-limited per-batch advance is the continuous-trigger
    pattern, not this one.
    With the batch reader above, the connector surface is covered in
    both execution modes."""
    from ..streaming.core import run_to_memory

    spark.dataSource.register(_make_stream_datasource())
    stream = (
        spark.readStream.format("epic_synthetic_stream")
        .option("n", "5000")
        .option("parts", "4")
        .load()
    )
    agg = stream.groupBy((F.col("id") % 10).cast("int").alias("bucket")).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
    )
    return run_to_memory(agg, "complete")


# Per priority the count and the cent sum of orders: what a round trip
# of orders through a sink (here, and the snapshot lines of
# plans/lakehouse.py) must still aggregate to.
_PRIORITY_CENTS_ORACLE = """
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM orders
    GROUP BY o_orderpriority
    """


def _commit_message():
    """The custom sinks' WriterCommitMessage: one task's file name (None
    when the task wrote nothing) and row count. Built lazily, the
    data-source rule."""
    from pyspark.sql.datasource import WriterCommitMessage

    class _Committed(WriterCommitMessage):
        def __init__(self, filename, n):
            self.filename = filename
            self.n = n

    return _Committed


def _write_jsonl_task(path: str, rows) -> tuple[str, int]:
    """(file name, row count): one task's rows serialized as a fresh
    JSON-lines file under ``path``."""
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.jsonl"
    n = 0
    with open(os.path.join(path, name), "w") as f:
        for row in rows:
            f.write(json.dumps(row.asDict()) + "\n")
            n += 1
    return name, n


def _write_manifest(path: str, name: str, **manifest) -> None:
    """The driver-side commit: the manifest ``name`` under ``path``
    listing the committed task files."""
    with open(os.path.join(path, name), "w") as f:
        json.dump(manifest, f)


def _manifest_files(path: str, name: str = "_MANIFEST.json") -> list[str]:
    """The task files a committed manifest ``name`` under ``path`` lists."""
    with open(os.path.join(path, name)) as f:
        return [os.path.join(path, file) for file in json.load(f)["files"]]


def _sink_orders(spark: SparkSession, sf_dir: str, source, kind: str) -> list[str]:
    """Write orders' (o_orderkey, priority, cents) through the custom
    batch sink ``source`` into a fresh ``kind`` scratch dir; returns the
    files its manifest lists (the only ones a reader may see)."""
    from .formats import scratch

    spark.dataSource.register(source)
    path = scratch(kind, sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        cents("o_totalprice").alias("cents"),
    )
    src.write.format(source.name()).option("path", path).mode("append").save()
    return _manifest_files(path)


def _make_writer_datasource():
    """Custom batch SINK via the Python DataSource writer API (lazy-
    built, same rule as _make_datasource): each executor partition
    serializes its rows to one JSON-lines file and returns the file
    name as its WriterCommitMessage; the driver-side commit() writes a
    manifest listing exactly the committed files — the two-phase-commit
    shape (task output + driver manifest) every real object-store sink
    (Hive FileOutputCommitter, Iceberg/Delta manifests) is built on.
    abort() leaves no manifest, so half-written task files are never
    visible to readers."""
    from pyspark.sql.datasource import DataSource, DataSourceWriter

    _Committed = _commit_message()

    class JsonlWriter(DataSourceWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, rows):
            return _Committed(*_write_jsonl_task(self.path, rows))

        def commit(self, messages):
            _write_manifest(
                self.path,
                "_MANIFEST.json",
                files=sorted(m.filename for m in messages),
                rows=sum(m.n for m in messages),
            )

        def abort(self, messages):
            pass

    class JsonlSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "epic_jsonl_sink"

        def writer(self, schema, overwrite):
            return JsonlWriter(self.options)

    return JsonlSinkDataSource


@register(
    "q_sink_custom_writer",
    oracle=_PRIORITY_CENTS_ORACLE,
    tags=("A10", "A7"),
)
def q_sink_custom_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource batch WRITER round-trip: orders →
    epic_jsonl_sink (per-partition task files + driver manifest
    two-phase commit) → read back ONLY the manifest-listed files →
    aggregate; must equal aggregating the source directly (oracle).
    With the batch/stream readers above, the Python connector surface
    is now covered in all three modes (batch read, stream read, batch
    write)."""
    files = _sink_orders(spark, sf_dir, _make_writer_datasource(), "custom_jsonl")
    back = spark.read.schema("o_orderkey bigint, priority string, cents bigint").json(
        files
    )
    return back.groupBy("priority").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )


def _make_stream_writer_datasource():
    """Streaming flavor of the custom sink (lazy-built): a
    DataSourceStreamWriter whose commit(messages, batchId) writes one
    manifest PER MICROBATCH — exactly-once visibility at batch
    granularity: a batch's task files become readable only when its
    manifest lands, and a replayed batch overwrites the same manifest
    id instead of double-publishing (idempotent commit, the streaming
    sink contract)."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamWriter

    _Committed = _commit_message()

    class JsonlStreamWriter(DataSourceStreamWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, rows):
            return _Committed(*_write_jsonl_task(self.path, rows))

        def commit(self, messages, batchId):
            _write_manifest(
                self.path,
                f"_MANIFEST-{batchId}.json",
                batch=batchId,
                files=sorted(m.filename for m in messages if m is not None),
                rows=sum(m.n for m in messages if m is not None),
            )

        def abort(self, messages, batchId):
            pass

    class JsonlStreamSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "epic_jsonl_stream_sink"

        def streamWriter(self, schema, overwrite):
            return JsonlStreamWriter(self.options)

    return JsonlStreamSinkDataSource


@register(
    "q_stream_custom_sink",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY user_id
    """,
    tags=("A10", "A9", "I8"),
)
def q_stream_custom_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource STREAMING sink end-to-end: the purchase
    stream written through epic_jsonl_stream_sink (per-batch task files
    + per-batch manifest commit), then only manifest-listed files are
    read back and aggregated; must equal aggregating the source
    directly (oracle). Closes the connector matrix: batch read, stream
    read, batch write, stream write — all four modes oracle-checked."""
    import glob

    from ..streaming.core import events_stream
    from .formats import scratch

    spark.dataSource.register(_make_stream_writer_datasource())
    path = scratch("custom_stream_jsonl", sf_dir)
    ckpt = scratch("custom_stream_ckpt", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    out = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            cents("value").alias("cents"),
        )
    )
    q = (
        out.writeStream.format("epic_jsonl_stream_sink")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    files = []
    for mf in glob.glob(os.path.join(path, "_MANIFEST-*.json")):
        files += _manifest_files(path, os.path.basename(mf))
    back = spark.read.schema("event_id bigint, user_id bigint, cents bigint").json(
        files
    )
    return back.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )


def _make_arrow_writer_datasource():
    """Arrow-NATIVE flavor of the custom batch sink (lazy-built):
    DataSourceArrowWriter receives the partition as an iterator of
    ``pyarrow.RecordBatch`` — zero per-row Python objects on the write
    path (the row-based JsonlWriter above pays Row→dict→json per
    record; this one hands columnar buffers straight to the parquet
    encoder). Same two-phase commit: task parquet files + driver
    manifest."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.datasource import DataSource, DataSourceArrowWriter

    _Committed = _commit_message()

    class ArrowParquetWriter(DataSourceArrowWriter):
        def __init__(self, options):
            self.path = options["path"]

        def write(self, iterator):
            os.makedirs(self.path, exist_ok=True)
            batches = [b for b in iterator if b.num_rows]
            if not batches:
                return _Committed(None, 0)
            name = f"part-{uuid.uuid4().hex}.parquet"
            table = pa.Table.from_batches(batches)
            pq.write_table(table, os.path.join(self.path, name))
            return _Committed(name, table.num_rows)

        def commit(self, messages):
            _write_manifest(
                self.path,
                "_MANIFEST.json",
                files=sorted(m.filename for m in messages if m.filename is not None),
                rows=sum(m.n for m in messages),
            )

        def abort(self, messages):
            pass

    class ArrowParquetSinkDataSource(DataSource):
        @classmethod
        def name(cls):
            return "epic_arrow_parquet_sink"

        def writer(self, schema, overwrite):
            return ArrowParquetWriter(self.options)

    return ArrowParquetSinkDataSource


@register(
    "q_sink_arrow_writer",
    oracle=_PRIORITY_CENTS_ORACLE,
    tags=("A10", "A6"),
)
def q_sink_arrow_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native custom-sink round-trip: orders → epic_arrow_parquet
    _sink (RecordBatch write path, per-task parquet + driver manifest)
    → read back only manifest-listed files → aggregate; must equal
    aggregating the source (same oracle as the row-based sink, so the
    two writer paths are provably equivalent end-to-end)."""
    files = _sink_orders(spark, sf_dir, _make_arrow_writer_datasource(), "custom_arrow_pq")
    back = spark.read.parquet(*files)
    return back.groupBy("priority").agg(
        F.count("*").alias("n"), F.sum("cents").alias("cents")
    )


def _make_pushdown_datasource():
    """Pushdown-capable flavor of the synthetic source (lazy-built):
    implements the Spark 4.1 ``pushFilters`` protocol — range
    comparisons on ``id`` are CONSUMED (narrow the generated [lo, hi)
    interval) and ``partitions()`` then plans ONLY the covering
    partitions, so pushdown is visible both in row counts and in the
    planned-partition count; every other filter is returned for Spark
    to evaluate post-scan (the contract: returned filters must be the
    input objects by reference)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        InputPartition,
        LessThan,
        LessThanOrEqual,
    )

    class PushdownReader(DataSourceReader):
        def __init__(self, options):
            self.n = int(options.get("n", "1000"))
            self.parts = int(options.get("parts", "4"))
            self.lo = 0
            self.hi = self.n

        def pushFilters(self, filters):
            supported = (
                GreaterThan,
                GreaterThanOrEqual,
                LessThan,
                LessThanOrEqual,
                EqualTo,
            )
            for f in filters:
                if (
                    isinstance(f, supported)
                    and tuple(f.attribute) == ("id",)
                    and isinstance(f.value, int)
                ):
                    if isinstance(f, GreaterThan):
                        self.lo = max(self.lo, f.value + 1)
                    elif isinstance(f, GreaterThanOrEqual):
                        self.lo = max(self.lo, f.value)
                    elif isinstance(f, LessThan):
                        self.hi = min(self.hi, f.value)
                    elif isinstance(f, LessThanOrEqual):
                        self.hi = min(self.hi, f.value + 1)
                    else:  # EqualTo
                        self.lo = max(self.lo, f.value)
                        self.hi = min(self.hi, f.value + 1)
                    continue  # consumed by the source
                yield f

        def partitions(self):
            out = []
            for i in range(self.parts):
                plo = i * self.n // self.parts
                phi = (i + 1) * self.n // self.parts
                if plo < self.hi and phi > self.lo:
                    out.append(
                        InputPartition((max(plo, self.lo), min(phi, self.hi)))
                    )
            return out or [InputPartition((0, 0))]

        def read(self, partition):
            lo, hi = partition.value
            for rid in range(lo, hi):
                yield (rid, rid % 10, float((rid * KNUTH) % MOD))

    class PushdownDataSource(DataSource):
        @classmethod
        def name(cls):
            return "epic_synthetic_pushdown"

        def schema(self):
            return "id bigint, bucket int, value double"

        def reader(self, schema):
            return PushdownReader(self.options)

    return PushdownDataSource


def pushdown_table(spark: SparkSession, n: int = 10_000, parts: int = 8) -> DataFrame:
    """Register (idempotent) and read the pushdown-capable source. Its
    filters reach ``pushFilters`` only with
    spark.sql.python.filterPushdown.enabled, an ENGINE_CONFS entry."""
    spark.dataSource.register(_make_pushdown_datasource())
    return (
        spark.read.format("epic_synthetic_pushdown")
        .option("n", str(n))
        .option("parts", str(parts))
        .load()
    )


@register(
    "q_scan_pushdown_source",
    oracle=f"""
    SELECT CAST(id % 10 AS INT) AS bucket,
           COUNT(*) AS n,
           CAST(SUM((id * {KNUTH}) % {MOD}) AS DOUBLE) AS sum_value
    FROM range(10000) t(id)
    WHERE id >= 7500 AND id < 9000
    GROUP BY 1
    """,
    tags=("A10", "scale"),
)
def q_scan_pushdown_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python DataSource FILTER PUSHDOWN (Spark 4.1 ``pushFilters``):
    the id-range predicate is consumed by the source, which then plans
    only the partitions intersecting the narrowed interval — the
    count-of-planned-partitions evidence is pinned in
    tests/test_graph.py; this query proves end-to-end value
    correctness against DuckDB range(). The capability matters at
    100 TB for API-backed sources (databases, feature stores): without
    pushdown every predicate ships the full table through Python."""
    df = pushdown_table(spark, n=10_000, parts=8)
    return (
        df.filter((F.col("id") >= 7500) & (F.col("id") < 9000))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
