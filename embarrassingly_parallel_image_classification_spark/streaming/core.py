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
from typing import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

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
    equivalence testable, SURVEY §5.3). The sink's temp view is
    dropped before returning: the frame resolved it already and keeps
    reading the sink, and a view left behind would hold the sink's rows
    in driver memory for the rest of the session.
    """
    spark = result.sparkSession
    name = f"epic_stream_sink_{next(_run_ids)}"
    # Stateful streaming ops keep one state store per shuffle partition
    # and load and commit each one per micro-batch, so the partition
    # count is the state task count. At most one wave of them: a state
    # task beyond the slot count runs in a second wave and pays its own
    # store load and delta commit (q_stream_tumbling at local[4]: 8
    # partitions 0.65 s, 4 partitions 0.47 s). At most 8: beyond that,
    # store I/O outgrows the work at fixture scale (a real cluster sizes
    # this to state volume, not core count).
    prev_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(min(8, spark.sparkContext.defaultParallelism))
    )
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
    sink = spark.table(name)
    spark.catalog.dropTempView(name)
    return sink


def drain_stateful(
    stream: DataFrame,
    keys: Sequence[str],
    fold: Callable,
    init: tuple,
    state_schema: str,
    out_schema: str,
    answer_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Run a per-key stateful fold over a bounded stream
    (``applyInPandasWithState``, update mode, no timeout) and drain each
    key's final answer.

    ``fold(key, state, rows) -> (state, out)`` is the only part a line
    supplies: ``state`` is the key's tuple in ``state_schema`` (``init``
    the first time the key is seen), ``rows`` the key's rows of one
    micro-batch in one pandas frame, and ``out`` the rows to emit, a
    dict or frame in ``out_schema``'s columns. This builder keeps
    ``n_total``, the number of rows folded for the key so far, next to
    the line's state and on every emitted row, runs the stream into a
    memory sink, and keeps per ``answer_keys`` (default ``keys``) the
    columns of the emission with the largest ``n_total``.

    Why the drained answer does not depend on how the source splits
    into micro-batches: every line's state is a function of the multiset
    of rows folded into it (a max and a count, the top-k by a total
    order, a tick set, per-day sums), so folding batch A and then batch
    B leaves the same state as folding A ∪ B at once; and each emission
    is computed from the state alone. Update mode re-emits a key once per
    micro-batch that has rows for it, each with a strictly larger
    ``n_total``, so the largest ``n_total`` marks the emission made from
    the final state, which is the fold of all the key's rows.
    """

    def track(key, pdfs, state):
        *st, n_total = state.get if state.exists else (*init, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        st, out = fold(key, tuple(st), rows)
        n_total += len(rows)
        state.update((*st, n_total))
        yield pd.DataFrame(out).assign(n_total=n_total)

    out = stream.groupBy(*keys).applyInPandasWithState(
        track,
        outputStructType=f"{out_schema}, n_total BIGINT",
        stateStructType=f"{state_schema}, n_total BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    answer_keys = list(keys if answer_keys is None else answer_keys)
    sink = run_to_memory(out, "update")
    values = [c for c in sink.columns if c not in answer_keys and c != "n_total"]
    return sink.groupBy(*answer_keys).agg(
        *[F.max_by(c, "n_total").alias(c) for c in values]
    )
