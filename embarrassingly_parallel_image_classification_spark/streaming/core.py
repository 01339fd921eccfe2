"""Structured Streaming infrastructure (SURVEY.md §2-I, I8).

Reference analog: operational scoring of newly-arriving imagery batches
[PK]. Testability rules (SURVEY §7 risk 6): file source over the fixture
events parquet, ``trigger(availableNow=True)`` so every run is finite,
memory (or foreachBatch→parquet) sink so results come back as a
DataFrame. No wall-clock sources anywhere.

A file stream needs an explicit schema; the loaders take it from
sources/tables.py's ``parquet_schema`` (inferred once per fixture file,
then cached — no batch read per call) and events_stream applies the
batch loader's own ts normalization (``normalize_events_ts``), so
stream-batch equivalence cannot drift between two copies.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import normalize_events_ts, parquet_schema

_run_ids = itertools.count()


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a bounded file stream with a proper ts: the
    cached fixture schema, normalized exactly like the batch loader."""
    raw = (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/events.parquet"))
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(raw)


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a bounded file stream — the crawl-ingest
    shape (new shards arriving continuously) the curation gates run
    on in production. Schema from the fixture schema cache, same as
    events_stream; no ts normalization needed (no timestamp col)."""
    return (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/documents.parquet"))
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


def run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    """Run a (bounded) streaming DataFrame to completion into a memory
    sink; return the sink as a batch DataFrame.

    availableNow processes everything present, then stops — so the
    returned table is the stream's final answer, which is what the
    driver's batch-style compare needs (and what makes stream-batch
    equivalence testable, SURVEY §5.3).
    """
    spark = result.sparkSession
    name = f"epic_stream_sink_{next(_run_ids)}"
    # Stateful streaming ops checkpoint one state store per shuffle
    # partition per microbatch; 32 partitions of checkpoint fsync dwarf
    # the actual work at fixture scale. 8 keeps state I/O proportionate
    # (on a real cluster this is sized to state volume, not core count).
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_sp)
    return spark.table(name)
