"""Stream-batch equivalence (SURVEY.md §5.3): with availableNow over a
fixed fixture, a streaming query's final answer must equal the same
computation done in batch — the canonical Structured Streaming
correctness property. Covers the rows-only streaming ops the DuckDB
oracle can't."""

from __future__ import annotations

from pyspark.sql import functions as F

from embarrassingly_parallel_image_classification_spark.sources.tables import t
from embarrassingly_parallel_image_classification_spark.streaming import queries as sq
from tests.conftest import SF_T2


def test_stateful_equals_batch_groupby(spark):
    got = {
        r["user_id"]: (r["max_value"], r["n_events"])
        for r in sq.q_stream_stateful(spark, SF_T2).collect()
    }
    want = {
        r["user_id"]: (r["mx"], r["n"])
        for r in t(spark, SF_T2, "events")
        .groupBy("user_id")
        .agg(F.max("value").alias("mx"), F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_session_windows_partition_events(spark):
    """Session windows must cover every event exactly once per user."""
    rows = sq.q_stream_session(spark, SF_T2).collect()
    by_user: dict[int, list] = {}
    total = 0
    for r in rows:
        total += r["n_events"]
        by_user.setdefault(r["user_id"], []).append(
            (r["sess_start_sec"], r["sess_end_sec"])
        )
    n_events = t(spark, SF_T2, "events").count()
    assert total == n_events
    # Sessions of one user never overlap and close after a 30-min gap.
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2
            assert s2 - (e1 - 1800) >= 1800 or e1 <= s2


def test_stream_dedup_is_noop_on_unique_ids(spark):
    n = sq.q_stream_dedup(spark, SF_T2).collect()[0]["n_unique"]
    assert n == t(spark, SF_T2, "events").count()


def test_dynamic_session_windows_partition_events(spark):
    """Dynamic-gap sessions must also cover every event exactly once
    per user, never overlap, and each session must end exactly at some
    member's expiry (ts + its own gap) — the interval-merge invariant
    that distinguishes dynamic from fixed-gap sessionization."""
    rows = sq.q_stream_session_dynamic(spark, SF_T2).collect()
    by_user: dict[int, list] = {}
    total = 0
    for r in rows:
        total += r["n_events"]
        by_user.setdefault(r["user_id"], []).append(
            (r["sess_start_sec"], r["sess_end_sec"])
        )
    n_events = t(spark, SF_T2, "events").count()
    assert total == n_events
    for spans in by_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2  # no overlap after merging
        for s, e in spans:
            # a session lasts at least its final event's minimum gap
            # (10 min) and the end strictly exceeds the start
            assert e - s >= 600


def test_stateful_update_mode_emits_running_prefixes(spark, tmp_path):
    """Update-mode emission SEQUENCE (round-4 verdict item 6): not just
    the final drained state, but the intermediate per-microbatch
    emissions. Three single-row-per-user files processed with
    maxFilesPerTrigger=1 force three microbatches; update mode must
    emit one row per key per batch, and each emission must be a running
    prefix of the final state: n_events counts 1,2,3 and max_value
    non-decreasing along that sequence."""
    import os as _os
    import time as _time

    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = tmp_path / "src"
    src.mkdir()
    # user 1 values per batch: 5.0, 2.0, 9.0 ; user 2: 1.0, 7.0, 3.0
    batches = [
        {"user_id": [1, 2], "value": [5.0, 1.0]},
        {"user_id": [1, 2], "value": [2.0, 7.0]},
        {"user_id": [1, 2], "value": [9.0, 3.0]},
    ]
    now = _time.time()
    for i, b in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        _pq.write_table(_pa.Table.from_pandas(_pd.DataFrame(b)), p)
        _os.utime(p, (now + i, now + i))  # pin file-source pick order

    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )

    def track(key, pdfs, state: GroupState):
        mx, n = state.get if state.exists else (float("-inf"), 0)
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += int(len(pdf))
        state.update((mx, n))
        yield _pd.DataFrame(
            {"user_id": [key[0]], "max_value": [mx], "n_events": [n]}
        )

    out = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id BIGINT, max_value DOUBLE, n_events BIGINT",
        stateStructType="mx DOUBLE, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("emission_seq_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("emission_seq_test").collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(
            (r["n_events"], r["max_value"])
        )
    assert set(by_user) == {1, 2}
    want_final = {1: 9.0, 2: 7.0}
    for uid, ems in by_user.items():
        ems.sort()
        # one emission per microbatch — three of them — with counts 1,2,3
        assert [n for n, _ in ems] == [1, 2, 3], f"user {uid}: {ems}"
        maxes = [m for _, m in ems]
        assert maxes == sorted(maxes), f"user {uid}: max not monotone {maxes}"
        assert maxes[-1] == want_final[uid]


def test_dedup_within_watermark_state_ttl(spark, tmp_path):
    """dropDuplicatesWithinWatermark's BOUNDED-STATE semantics (what
    distinguishes it from plain dropDuplicates at 100 TB): a duplicate
    arriving within the watermark window is dropped, but once the
    watermark passes the key's expiry (event time + delay) the state
    is EVICTED and a later duplicate is emitted again. Measured
    mechanics this test pins (probed on this Spark version): a batch
    runs with the watermark derived from the PREVIOUS batch's max
    event time, and the eviction sweep lands at the END of the batch
    carrying the advanced watermark — so a re-emission needs TWO
    post-jump batches before the duplicate: (A@t0, dup A@t0+1min →
    dropped), (B@t0+3h → advances watermark), (B@t0+3h+1min → batch
    runs with wm t0+2h50m and EVICTS A), (A@t0+3h+2min → RE-EMITTED)
    ⇒ exactly 2 output rows for A; sentinel keys prove every batch
    processed."""
    import os as _os
    import time as _time

    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    t0 = _pd.Timestamp("2026-01-01 00:00:00")
    batches = [
        {"event_id": ["A", "B1"], "ts": [t0, t0]},
        {"event_id": ["A", "B2"], "ts": [t0 + _pd.Timedelta("1min"),
                                         t0 + _pd.Timedelta("1min")]},
        {"event_id": ["B3", "B3x"], "ts": [t0 + _pd.Timedelta("3h"),
                                           t0 + _pd.Timedelta("3h")]},
        {"event_id": ["B4", "B4x"], "ts": [t0 + _pd.Timedelta("3h 1min"),
                                           t0 + _pd.Timedelta("3h 1min")]},
        {"event_id": ["A", "B5"], "ts": [t0 + _pd.Timedelta("3h 2min"),
                                         t0 + _pd.Timedelta("3h 2min")]},
    ]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    schema = _pa.schema(
        [("event_id", _pa.string()), ("ts", _pa.timestamp("us"))]
    )
    for i, b in enumerate(batches):
        p = str(src / f"b{i}.parquet")
        # cast to µs explicitly: pandas defaults to ns, which Spark
        # reads as INT64, not timestamp
        _pq.write_table(
            _pa.Table.from_pandas(_pd.DataFrame(b)).cast(schema), p
        )
        _os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema("event_id string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_ttl_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("dedup_ttl_test").collect()
    a_rows = [r for r in rows if r["event_id"] == "A"]
    sentinels = {r["event_id"] for r in rows if r["event_id"].startswith("B")}
    assert sentinels == {"B1", "B2", "B3", "B3x", "B4", "B4x", "B5"}
    assert len(a_rows) == 2, (
        f"expected drop-within-watermark then re-emit after eviction, got {a_rows}"
    )


def test_checkpoint_restart_resumes_state_exactly_once(spark, tmp_path):
    """Crash/restart recovery — the exactly-once story a 100-TB
    streaming deployment rests on: run a stateful aggregation over two
    files with a durable checkpoint, STOP the query, append two more
    files, start a NEW query from the same checkpoint. The restarted
    query must resume from the recorded offsets (process only the new
    files) and rehydrate its state store — final per-key counts equal
    a batch aggregate over all four files, with no double counting."""
    import os as _os
    import time as _time

    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = _pa.schema([("user_id", _pa.int64()), ("n", _pa.int64())])

    def write(i, rows):
        p = str(src / f"b{i}.parquet")
        _pq.write_table(
            _pa.Table.from_pandas(_pd.DataFrame(rows)).cast(schema), p
        )
        _os.utime(p, (_time.time() + i, _time.time() + i))

    def run(name):
        stream = (
            spark.readStream.schema("user_id bigint, n bigint")
            .parquet(str(src))
        )
        agg = stream.groupBy("user_id").agg(
            F.sum("n").alias("total"), F.count("*").alias("rows")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["user_id"]: (r["total"], r["rows"])
            for r in spark.table(name).collect()
        }

    write(0, {"user_id": [1, 2], "n": [10, 20]})
    write(1, {"user_id": [1], "n": [5]})
    first = run("ckpt_run1")
    assert first == {1: (15, 2), 2: (20, 1)}

    write(2, {"user_id": [2, 3], "n": [7, 1]})
    write(3, {"user_id": [1], "n": [100]})
    second = run("ckpt_run2")
    # batch truth over ALL files — state rehydrated, new files processed
    # exactly once each
    assert second == {1: (115, 3), 2: (27, 2), 3: (1, 1)}


def test_rocksdb_state_store_provider(spark, tmp_path):
    """RocksDB state store — the LARGE-STATE streaming story: the
    default HDFS-backed store keeps every key in executor heap, so at
    100-TB state (billions of dedup keys) only a spill-to-disk store
    survives. Spark ships RocksDBStateStoreProvider in the box; this
    pins that (a) a stateful aggregation under RocksDB returns the
    same answer as the default store and (b) the provider actually
    engaged (rocksdb metrics in the progress event)."""
    import os as _os

    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    src = tmp_path / "src"
    src.mkdir()
    _pq.write_table(
        _pa.Table.from_pandas(
            _pd.DataFrame({"user_id": [1, 2, 1, 3], "n": [1, 2, 3, 4]})
        ),
        str(src / "b0.parquet"),
    )
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = spark.readStream.schema("user_id bigint, n bigint").parquet(
            str(src)
        )
        agg = stream.groupBy("user_id").agg(F.sum("n").alias("s"))
        q = (
            agg.writeStream.format("memory")
            .queryName("rocksdb_state_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["user_id"]: r["s"]
            for r in spark.table("rocksdb_state_test").collect()
        }
        assert got == {1: 4, 2: 2, 3: 4}
        metrics = next(
            p["stateOperators"][0]["customMetrics"]
            for p in q.recentProgress
            if p["stateOperators"]
        )
        assert any("rocksdb" in k.lower() for k in metrics), metrics
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_lake_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """Custom-source offset durability: a stream over the snapshot
    table run with a checkpoint, stopped, then restarted after a new
    snapshot lands must process ONLY the new version's files (manifest
    versions are the offsets the checkpoint persists). Counts prove
    it: run 1 sees versions 1-2 (30 rows), run 2 appends version 3 and
    the restarted stream delivers exactly its 12 rows — no replay, no
    loss."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse
    from embarrassingly_parallel_image_classification_spark.plans.lakehouse import (
        _make_lake_stream_datasource,
    )

    table = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(mk(0, 10), table, "append")
    lakehouse.snapshot_write(mk(10, 30), table, "append")
    spark.dataSource.register(_make_lake_stream_datasource())

    def run():
        # parquet sink: the memory sink refuses checkpoint recovery,
        # and recovery is exactly what's under test
        stream = (
            spark.readStream.format("epic_lake_stream")
            .option("path", table)
            .option("schema", "k bigint")
            .option("columns", "k")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r["k"] for r in spark.read.parquet(out).collect())

    first = run()
    assert first == list(range(30))
    lakehouse.snapshot_write(mk(30, 42), table, "append")
    second = run()
    # the sink dir accumulates; exactly-once means the union is each
    # row once — a replay of versions 1-2 would duplicate 0..29
    assert second == list(range(42)), second


def test_stateful_topk_survives_checkpoint_restart(spark, tmp_path):
    """applyInPandasWithState top-k across a STOP/RESTART: the rebuilt
    query must rehydrate its per-key leaderboard from the state store
    and process only the new files — the drained leaderboard equals
    the batch top-3 over ALL files (the semilattice merge argument of
    q_stream_topk, now proven across a process-level restart, not just
    microbatch splits)."""
    import os as _os
    import time as _time

    import pandas as _pd
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    from pyspark.sql.streaming.state import GroupStateTimeout

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = _pa.schema([("k", _pa.string()), ("item", _pa.int64()), ("score", _pa.int64())])

    def write(i, rows):
        p = str(src / f"b{i}.parquet")
        _pq.write_table(_pa.Table.from_pandas(_pd.DataFrame(rows)).cast(schema), p)
        _os.utime(p, (_time.time() + i, _time.time() + i))

    def track(key, pdfs, state):
        if state.exists:
            ids, sc, total = state.get
            ids, sc = list(ids), list(sc)
        else:
            ids, sc, total = [], [], 0
        for pdf in pdfs:
            if len(pdf):
                ids += pdf["item"].tolist()
                sc += pdf["score"].tolist()
                total += int(len(pdf))
        keep = sorted(range(len(sc)), key=lambda i: (-sc[i], ids[i]))[:3]
        ids = [int(ids[i]) for i in keep]
        sc = [int(sc[i]) for i in keep]
        state.update((ids, sc, total))
        yield _pd.DataFrame(
            {
                "k": [key[0]] * len(ids),
                "rank": list(range(1, len(ids) + 1)),
                "item": ids,
                "score": sc,
                "n_total": [total] * len(ids),
            }
        )

    def run():
        stream = spark.readStream.schema("k string, item bigint, score bigint").parquet(
            str(src)
        )
        out = stream.groupBy("k").applyInPandasWithState(
            track,
            outputStructType="k STRING, rank BIGINT, item BIGINT, score BIGINT, n_total BIGINT",
            stateStructType="ids ARRAY<BIGINT>, sc ARRAY<BIGINT>, total BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        q = (
            out.writeStream.outputMode("update")
            .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write(0, {"k": ["a", "a", "b"], "item": [1, 2, 3], "score": [10, 30, 5]})
    write(1, {"k": ["a"], "item": [4], "score": [20]})
    run()
    write(2, {"k": ["a", "b"], "item": [5, 6], "score": [40, 50]})
    write(3, {"k": ["a"], "item": [7], "score": [1]})
    run()  # restart from the same checkpoint
    drained = spark.read.parquet(sink)
    import pyspark.sql.functions as F

    final = (
        drained.groupBy("k", "rank")
        .agg(
            F.max_by("item", "n_total").alias("item"),
            F.max_by("score", "n_total").alias("score"),
        )
        .collect()
    )
    got = {(r.k, r.rank): (r.item, r.score) for r in final}
    # batch truth over all four files
    assert got == {
        ("a", 1): (5, 40),
        ("a", 2): (2, 30),
        ("a", 3): (4, 20),
        ("b", 1): (6, 50),
        ("b", 2): (3, 5),
    }, got


def test_lake_stream_source_passes_metadata_only_versions(spark, tmp_path):
    """A metadata-only DDL version (here ADD CONSTRAINT CHECK) keeps
    every file and adds none, so the append-only stream source treats
    it as an empty step instead of refusing it: the rows appended on
    both sides of the DDL each arrive exactly once."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse
    from embarrassingly_parallel_image_classification_spark.plans.lakehouse import (
        _make_lake_stream_datasource,
    )

    table = str(tmp_path / "tbl")
    out = str(tmp_path / "out")
    mk = lambda lo, hi: spark.range(lo, hi).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(mk(0, 10), table, "append")
    lakehouse.add_check_constraint(spark, table, "nonneg", "k >= 0")
    lakehouse.snapshot_write(mk(10, 15), table, "append")
    spark.dataSource.register(_make_lake_stream_datasource())
    q = (
        spark.readStream.format("epic_lake_stream")
        .option("path", table)
        .option("schema", "k bigint")
        .option("columns", "k")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    assert got == list(range(15)), got


def test_stateful_lines_drain_the_final_state_over_three_micro_batches(
    spark, duck, tmp_path, monkeypatch
):
    """The fixture's events are one file, so every stateful line sees one
    micro-batch and its drain never has to choose between emissions.
    Here the events stream reads the same rows as 3 ts-contiguous files,
    one per micro-batch (contiguous, so no row is late for the 10-minute
    watermark): each line re-emits a key once per batch that has its
    rows, and the drained answer must still equal the batch oracle."""
    import os
    import time

    import pyarrow.parquet as pq

    from embarrassingly_parallel_image_classification_spark import registry
    from embarrassingly_parallel_image_classification_spark.sources.tables import (
        normalize_events_ts,
        parquet_schema,
    )
    from embarrassingly_parallel_image_classification_spark.streaming import core
    from tests.conftest import assert_matches_oracle

    src = tmp_path / "events"
    src.mkdir()
    events = pq.read_table(f"{SF_T2}/events.parquet").sort_by("ts")
    step = -(-events.num_rows // 3)
    now = time.time()
    for i in range(3):
        path = str(src / f"part{i}.parquet")
        pq.write_table(events.slice(i * step, step), path)
        os.utime(path, (now + i, now + i))

    def three_batches(spark_, sf_dir):
        raw = (
            spark_.readStream.schema(parquet_schema(spark_, f"{sf_dir}/events.parquet"))
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        return normalize_events_ts(raw)

    sink_rows = []
    run_to_memory = core.run_to_memory

    def counted(result, mode):
        sink = run_to_memory(result, mode)
        sink_rows.append(sink.count())
        return sink

    monkeypatch.setattr(sq, "events_stream", three_batches)
    monkeypatch.setattr(core, "run_to_memory", counted)
    specs = registry.specs()
    lines = ("stateful", "ewma", "twap", "topk", "cusum")
    for name in [f"q_stream_{line}" for line in lines]:
        answer_rows = []

        def fn(spark_, sf_dir, spec=specs[name]):
            df = spec.fn(spark_, sf_dir)
            answer_rows.append(df.count())
            return df

        assert_matches_oracle(spark, duck, name, fn, specs[name].oracle, SF_T2)
        # some key emitted more than once, so the drain had to pick
        assert sink_rows[-1] > answer_rows[-1], (name, sink_rows[-1], answer_rows[-1])


def test_run_to_memory_leaves_no_view_and_its_frame_still_collects(spark):
    """The sink's temp view is dropped once the frame has resolved it:
    the catalog is unchanged across the call, and the frame still reads
    every row of the sink."""
    from embarrassingly_parallel_image_classification_spark.streaming.core import (
        events_stream,
        run_to_memory,
    )

    before = sorted(tb.name for tb in spark.catalog.listTables())
    sink = run_to_memory(events_stream(spark, SF_T2).groupBy("event_type").count(), "complete")
    assert sorted(tb.name for tb in spark.catalog.listTables()) == before
    want = t(spark, SF_T2, "events").groupBy("event_type").count().collect()
    assert sorted(sink.collect()) == sorted(want)


def test_run_to_memory_runs_one_wave_of_state_tasks(spark, monkeypatch):
    """A stateful line's state tasks (one per shuffle partition) fit one
    wave of the session's slots, at most 8, and the session's own
    shuffle-partition conf is restored afterwards."""
    from pyspark.sql.streaming import DataStreamWriter

    started = []
    start = DataStreamWriter.start

    def keep(self, *args, **kwargs):
        started.append(start(self, *args, **kwargs))
        return started[-1]

    monkeypatch.setattr(DataStreamWriter, "start", keep)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    assert sq.q_stream_tumbling(spark, SF_T2).count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    ops = [op for p in started[0].recentProgress for op in p.stateOperators]
    slots = spark.sparkContext.defaultParallelism
    assert ops and {op.numShufflePartitions for op in ops} == {min(8, slots)}


def test_foreach_batch_lake_is_pid_scoped(spark):
    """q_stream_foreach_batch writes its lake under a scratch dir ending
    in this process's scratch tag, so two processes never share it."""
    import os

    from embarrassingly_parallel_image_classification_spark.sources.formats import (
        scratch_tag,
    )

    files = sq.q_stream_foreach_batch(spark, SF_T2).inputFiles()
    assert files
    dirs = {os.path.basename(os.path.dirname(f)) for f in files}
    assert dirs == {f"stream_lake_{scratch_tag(SF_T2)}"}, dirs
