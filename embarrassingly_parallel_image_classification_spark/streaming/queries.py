"""I1–I8: streaming operators over the events fixture (SURVEY.md §2-I).

Window starts are exposed as epoch SECONDS (long) — integer-safe across
the Spark-µs / DuckDB-ns divide (SURVEY §7 risk 1). Oracles are the
equivalent batch SQL: with availableNow over a fixed fixture, the
stream's final answer must equal the batch answer (stream-batch
equivalence — the canonical Structured Streaming correctness property).
The per-key stateful lines (stateful, ewma, twap, topk, cusum) each
supply only a fold and its schemas to ``core.drain_stateful``, whose
docstring states why their drained answer does not depend on how the
source splits into micro-batches.
"""

from __future__ import annotations

import calendar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import pin
from ..ml.cleaning import _DRIFT_REPORT_SQL, drift_report
from ..ml.curation import GOPHER_MEANLEN_E1, GOPHER_MIN_STOP, GOPHER_WORDS
from ..ml.inference import _INFER_ORACLE, fit_centroids, make_predict_udf
from ..ml.text import STOPWORDS
from ..operators.analytics import BITMAP_AUDIENCE_ORACLE, bitmap_overlap
from ..operators.timeseries import DAILY_DOLLARS_SQL, EWMA_ORACLE, TWAP_ORACLE
from ..plans.scale import checksum_report, row_fingerprint60
from ..registry import register
from ..sources.tables import cents, parquet_schema, t
from .core import documents_stream, drain_stateful, events_stream, run_to_memory

# Oracle-only SQL fragments of the stream-join family: the purchase and
# click sides on second-truncated event times, and the global watermark
# (the later of the two streams' minimum max-time, minus the delay).
_P_SQL = """p AS (SELECT event_id AS p_id, user_id, date_trunc('second', ts) AS pts
               FROM events WHERE event_type = 'purchase')"""
_C_SQL = """c AS (SELECT event_id AS c_id, user_id, date_trunc('second', ts) AS cts
               FROM events WHERE event_type = 'click')"""
_WM_SQL = """wm AS (SELECT LEAST((SELECT MAX(pts) FROM p), (SELECT MAX(cts) FROM c))
                       - INTERVAL 10 MINUTE AS w)"""
# The clicks an outer join emits unmatched: evicted by the watermark
# with no purchase of the same user in the hour before the click.
_UNMATCHED_CLICKS_SQL = """FROM c, wm
    WHERE c.cts < wm.w - INTERVAL 1 HOUR
      AND NOT EXISTS (SELECT 1 FROM p WHERE p.user_id = c.user_id
                      AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts <= p.pts)"""


@register(
    "q_stream_tumbling",
    oracle="""
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS win_start_sec,
           event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("I1", "I4"),
)
def q_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows with a 10-minute watermark (bounds state;
    with availableNow + fixture data nothing is actually late)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value")
    )
    out = agg.select(
        F.unix_timestamp(F.col("window.start")).alias("win_start_sec"),
        "event_type",
        "n",
        "total_value",
    )
    return run_to_memory(out, "complete")


@register(
    "q_stream_sliding",
    oracle="""
    SELECT win_start_sec, COUNT(*) AS n, ROUND(AVG(value), 6) AS avg_value
    FROM (
        SELECT UNNEST([CAST(epoch(date_trunc('hour', ts)) AS BIGINT),
                       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) - 3600]) AS win_start_sec,
               value
        FROM events
    )
    GROUP BY win_start_sec
    """,
    tags=("I2", "I4"),
)
def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2-hour windows every 1 hour — each event lands in two
    windows; the oracle materializes that two-row expansion explicitly."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "2 hours", "1 hour")).agg(
        F.count("*").alias("n"), F.round(F.avg("value"), 6).alias("avg_value")
    )
    out = agg.select(
        F.unix_timestamp(F.col("window.start")).alias("win_start_sec"), "n", "avg_value"
    )
    return run_to_memory(out, "complete")


def _sessions(spark: SparkSession, sf_dir: str, gap) -> DataFrame:
    """(sess_start_sec, sess_end_sec, user_id, n_events) per session
    window of inactivity `gap` (a duration string or a per-event
    Column) over the second-truncated event stream, drained in
    complete mode."""
    ev = (
        events_stream(spark, sf_dir)
        .withColumn("ts", F.date_trunc("second", "ts"))
        .withWatermark("ts", "10 minutes")
    )
    agg = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events")
    )
    out = agg.select(
        F.unix_timestamp(F.col("session_window.start")).alias("sess_start_sec"),
        F.unix_timestamp(F.col("session_window.end")).alias("sess_end_sec"),
        "user_id",
        "n_events",
    )
    return run_to_memory(out, "complete")


@register(
    "q_stream_session",
    oracle="""
    WITH ev AS (
        SELECT user_id, date_trunc('second', ts) AS ts FROM events),
    seq AS (
        SELECT user_id, ts,
               CASE WHEN ts < LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                             + INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS new_sess
        FROM ev),
    sess AS (
        SELECT user_id, ts,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sid
        FROM seq)
    SELECT CAST(epoch(MIN(ts)) AS BIGINT) AS sess_start_sec,
           CAST(epoch(MAX(ts)) AS BIGINT) + 1800 AS sess_end_sec,
           user_id,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    tags=("I3", "I4"),
)
def q_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap.
    session_window extents ARE deterministic for a drained bounded
    stream: a session is a maximal event chain with gaps < 30 min
    (half-open [start, last+gap) — an event landing exactly on a
    session's end starts a new one), so the batch lag-flag-cumsum
    sessionization with end = last event + gap reproduces them exactly
    — the oracle is that reconstruction, upgrading this from rows-only
    to exact (first event's LAG is NULL → the `<` comparison is false
    → correctly flagged as a session start on both engines). Both
    engines sessionize the SECOND-truncated timeline — the repo-wide
    timestamp-exposure convention (cf. q_sessionize) — so no fixture
    precision drift (ns vs µs parquet) can flip a gap comparison at a
    sub-second boundary."""
    return _sessions(spark, sf_dir, "30 minutes")


@register(
    "q_stream_session_dynamic",
    oracle="""
    WITH ev AS (
        SELECT user_id, date_trunc('second', ts) AS ts,
               date_trunc('second', ts)
                 + to_seconds(CASE WHEN event_type = 'click'
                              THEN 600 ELSE 1800 END) AS fin
        FROM events),
    seq AS (
        SELECT user_id, ts, fin,
               CASE WHEN ts < MAX(fin) OVER (PARTITION BY user_id ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS new_sess
        FROM ev),
    sess AS (
        SELECT user_id, ts, fin,
               CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sid
        FROM seq)
    SELECT CAST(epoch(MIN(ts)) AS BIGINT) AS sess_start_sec,
           CAST(epoch(MAX(fin)) AS BIGINT) AS sess_end_sec,
           user_id,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    tags=("I3", "I4"),
)
def q_stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a PER-EVENT dynamic inactivity gap (clicks
    expire after 10 minutes, everything else after 30) — the
    engagement-aware sessionization session_window's Column-typed gap
    exists for. Semantics: each event claims [ts, ts+gap); overlapping
    claims merge, so a session's end is the MAX of its members'
    expiries, not last-event+constant. The oracle reconstructs exactly
    that with a running-MAX-of-expiry new-session flag + cumsum (the
    interval-merge algorithm); both engines work on the second-
    truncated timeline per repo convention."""
    gap = F.when(F.col("event_type") == "click", "10 minutes").otherwise(
        "30 minutes"
    )
    return _sessions(spark, sf_dir, gap)


@register(
    "q_stream_dedup",
    oracle="""
    SELECT COUNT(DISTINCT event_id) AS n_unique FROM events
    """,
    tags=("I5",),
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup on event_id within the watermark,
    then a count — must equal the batch COUNT(DISTINCT)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    out = deduped.groupBy().agg(F.count("*").alias("n_unique"))
    return run_to_memory(out, "complete")


@register(
    "q_stream_enrich",
    oracle="""
    SELECT e.event_id, e.event_type, c.c_mktsegment,
           ROUND(e.value, 6) AS value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    tags=("I7",),
)
def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static join: enrich the event stream with the customer
    dim (stateless inner join; the dim is broadcast every microbatch)."""
    ev = events_stream(spark, sf_dir)
    dim = F.broadcast(t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = ev.join(dim, ev.user_id == dim.c_custkey).select(
        "event_id", "event_type", "c_mktsegment", F.round("value", 6).alias("value")
    )
    return run_to_memory(joined, "append")


@register(
    "q_stream_foreach_batch",
    oracle="""
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 6) AS total_value
    FROM events GROUP BY event_type
    """,
    tags=("I8", "A9"),
)
def q_stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch sink: each microbatch appended to a parquet lake
    dir, then the lake is read back and aggregated — the
    stream-to-table ingestion pattern; the oracle recomputes from the
    source, so a dropped/duplicated batch fails the hash."""
    import shutil

    from ..sources.formats import scratch

    out = scratch("stream_lake", sf_dir)
    shutil.rmtree(out, ignore_errors=True)
    ev = events_stream(spark, sf_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out)

    q = ev.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination()
    lake = spark.read.schema(ev.schema).parquet(out)
    return lake.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("total_value")
    )


def _purchase_click_join(spark: SparkSession, sf_dir: str, how: str) -> DataFrame:
    """The stream–stream join every q_stream_*_join mode shares: the
    watermarked purchase stream (p_id, user_id, pts) joined ``how`` to
    the watermarked click stream (c_id, c_user_id, cts) on the same
    user's clicks in the hour up to the purchase. Event times are
    second-truncated on both sides (Spark µs vs DuckDB ns, SURVEY §7
    risk 1), and the range condition uses the truncated timestamps so
    boundary pairs agree across engines."""
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.date_trunc("second", "ts").alias("pts"),
        )
        .withWatermark("pts", "10 minutes")
    )
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user_id"),
            F.date_trunc("second", "ts").alias("cts"),
        )
        .withWatermark("cts", "10 minutes")
    )
    return purchases.join(
        clicks,
        (F.col("c_user_id") == F.col("user_id"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("cts") <= F.col("pts")),
        how,
    )


@register(
    "q_stream_stream_join",
    oracle=f"""
    WITH {_P_SQL},
         {_C_SQL}
    SELECT p.p_id, c.c_id, p.user_id,
           CAST(epoch(p.pts) AS BIGINT) AS purchase_sec
    FROM p JOIN c ON c.user_id = p.user_id
                 AND c.cts >= p.pts - INTERVAL 1 HOUR
                 AND c.cts <= p.pts
    """,
    tags=("I9", "I4"),
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join: each purchase paired with the same
    user's clicks in the preceding hour. Watermarks on BOTH sides plus
    the time-range predicate bound the join state (clicks older than
    the range + watermark are evicted) — the canonical two-stream
    enrichment; with availableNow the emitted pairs must equal the
    batch theta-join (oracle)."""
    joined = _purchase_click_join(spark, sf_dir, "inner").select(
        "p_id", "c_id", "user_id", F.unix_timestamp("pts").alias("purchase_sec")
    )
    return run_to_memory(joined, "append")


@register(
    "q_stream_stateful",
    oracle="""
    SELECT user_id, MAX(value) AS max_value, COUNT(*) AS n_events
    FROM events GROUP BY user_id
    """,
    tags=("I6",),
)
def q_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful per-key processing (applyInPandasWithState):
    running max/count of `value` per user — the per-key model-score
    state of an operational scorer. The STATE MECHANICS are what this
    exercises; the drained final state is nonetheless deterministic
    (max and count are order-independent, no float accumulation), so
    it carries an exact batch-SQL oracle — upgraded round 4 from
    rows-only (also equals-batch asserted in tests/test_streaming.py)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")

    def fold(key, state, rows):
        mx, n = max(state[0], float(rows["value"].max())), state[1] + len(rows)
        return (mx, n), {"user_id": [key[0]], "max_value": [mx], "n_events": [n]}

    return drain_stateful(
        ev,
        ["user_id"],
        fold,
        (float("-inf"), 0),
        "mx DOUBLE, n BIGINT",
        "user_id BIGINT, max_value DOUBLE, n_events BIGINT",
    )


@register(
    "q_stream_outer_join",
    oracle=f"""
    WITH {_P_SQL},
         {_C_SQL},
         {_WM_SQL}
    SELECT p.p_id, c.c_id, p.user_id,
           CAST(epoch(p.pts) AS BIGINT) AS purchase_sec
    FROM p JOIN c ON c.user_id = p.user_id
                 AND c.cts >= p.pts - INTERVAL 1 HOUR
                 AND c.cts <= p.pts
    UNION ALL
    SELECT p.p_id, CAST(NULL AS BIGINT) AS c_id, p.user_id,
           CAST(epoch(p.pts) AS BIGINT) AS purchase_sec
    FROM p, wm
    WHERE p.pts < wm.w
      AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                      AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts <= p.pts)
    """,
    tags=("I9", "I4", "C3"),
)
def q_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT OUTER join — the semantics the inner join
    can't show: a purchase with no click in its preceding hour emits a
    null-click row, but only once the GLOBAL watermark (min across both
    input streams, minus the 10-min delay) proves no matching click can
    still arrive. The oracle encodes exactly that: inner pairs emit
    unconditionally, unmatched purchases only where pts < watermark —
    on this fixture the final-window purchase is withheld (1947 of 1948
    unmatched emit), so the driver check pins the eviction semantics,
    not just the join. State stays bounded: clicks older than
    range+delay are evicted every microbatch."""
    joined = _purchase_click_join(spark, sf_dir, "leftOuter").select(
        "p_id", "c_id", "user_id", F.unix_timestamp("pts").alias("purchase_sec")
    )
    return run_to_memory(joined, "append")


@register(
    "q_stream_semi_join",
    oracle=f"""
    WITH {_P_SQL},
         c AS (SELECT user_id, date_trunc('second', ts) AS cts
               FROM events WHERE event_type = 'click')
    SELECT p.p_id, p.user_id,
           CAST(epoch(p.pts) AS BIGINT) AS purchase_sec
    FROM p
    WHERE EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                  AND c.cts >= p.pts - INTERVAL 1 HOUR
                  AND c.cts <= p.pts)
    """,
    tags=("I9", "I4", "C4"),
)
def q_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream LEFT SEMI join — the attribution EXISTS check
    without click payload duplication: each purchase emits AT MOST
    ONCE, when its first in-range click is known, never per-click
    (the inner join's fan-out is exactly what a conversion counter
    must not have). Unmatched purchases never emit at all (no
    eviction emission — that's the outer joins' job), so with
    availableNow the result equals the batch EXISTS semi-join
    verbatim: the oracle needs no watermark encoding, and a
    duplicate-emitting bug (per-click emission) fails the row-count
    check immediately. Completes the stream–stream mode matrix:
    inner / left outer / full outer / left semi.

    Scale: same two-sided keyed state as the other modes, but the
    left side can DROP a row's state at first match (emit-once) —
    strictly smaller state than the outer forms."""
    joined = _purchase_click_join(spark, sf_dir, "leftSemi").select(
        "p_id", "user_id", F.unix_timestamp("pts").alias("purchase_sec")
    )
    return run_to_memory(joined, "append")


@register(
    "q_stream_full_outer_join",
    oracle=f"""
    WITH {_P_SQL},
         {_C_SQL},
         {_WM_SQL}
    SELECT p.p_id, c.c_id, p.user_id,
           CAST(epoch(p.pts) AS BIGINT) AS p_sec,
           CAST(epoch(c.cts) AS BIGINT) AS c_sec
    FROM p JOIN c ON c.user_id = p.user_id
                 AND c.cts >= p.pts - INTERVAL 1 HOUR
                 AND c.cts <= p.pts
    UNION ALL
    SELECT p.p_id, CAST(NULL AS BIGINT) AS c_id, p.user_id,
           CAST(epoch(p.pts) AS BIGINT) AS p_sec,
           CAST(NULL AS BIGINT) AS c_sec
    FROM p, wm
    WHERE p.pts < wm.w
      AND NOT EXISTS (SELECT 1 FROM c WHERE c.user_id = p.user_id
                      AND c.cts >= p.pts - INTERVAL 1 HOUR AND c.cts <= p.pts)
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS p_id, c.c_id, c.user_id,
           CAST(NULL AS BIGINT) AS p_sec,
           CAST(epoch(c.cts) AS BIGINT) AS c_sec
    {_UNMATCHED_CLICKS_SQL}
    """,
    tags=("I9", "I4", "C3"),
)
def q_stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream FULL OUTER join — both sides' unmatched rows, each
    gated on the GLOBAL watermark but at DIFFERENT eviction points,
    which is what the oracle pins. An unmatched purchase is provably
    final once wm passes its own time (no click with cts ≤ pts can
    still arrive). An unmatched click must wait an EXTRA hour: a future
    purchase at pts = cts + 1h would still match it, so its state lives
    until wm > cts + 1h. The oracle encodes exactly this asymmetric
    eviction (pts < wm on the left, cts < wm − 1h on the right), so
    the driver check proves the watermark algebra Spark derives from
    the range condition, not just the join pairs.

    Scale: identical state shape to the inner/left-outer joins — each
    side keyed by user, rows evicted as the state watermark passes;
    full-outer adds no extra state, only the emit-on-evict path for
    both sides."""
    joined = _purchase_click_join(spark, sf_dir, "fullOuter").select(
        "p_id",
        "c_id",
        F.coalesce("user_id", "c_user_id").alias("user_id"),
        F.unix_timestamp("pts").alias("p_sec"),
        F.unix_timestamp("cts").alias("c_sec"),
    )
    return run_to_memory(joined, "append")


@register(
    "q_stream_right_outer_join",
    oracle=f"""
    WITH {_P_SQL},
         {_C_SQL},
         {_WM_SQL}
    SELECT p.p_id, c.c_id, c.user_id,
           CAST(epoch(c.cts) AS BIGINT) AS click_sec
    FROM p JOIN c ON c.user_id = p.user_id
                 AND c.cts >= p.pts - INTERVAL 1 HOUR
                 AND c.cts <= p.pts
    UNION ALL
    SELECT CAST(NULL AS BIGINT) AS p_id, c.c_id, c.user_id,
           CAST(epoch(c.cts) AS BIGINT) AS click_sec
    {_UNMATCHED_CLICKS_SQL}
    """,
    tags=("I9", "I4", "C3"),
)
def q_stream_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream RIGHT OUTER join — completes the mode matrix
    (inner / left outer / right outer / full outer / left semi, all
    five Spark supports for stream–stream). The preserved side is now
    the CLICK stream, whose eviction point is the interesting one: an
    unmatched click is only provably final once the global watermark
    passes cts + 1 HOUR (a future purchase at pts = cts + 1h could
    still match it), so its null-purchase row emits a full range-width
    LATER than the left-outer twin's unmatched purchases — the oracle
    pins exactly that cts < wm − 1h gate, i.e. the watermark algebra
    Spark derives for the BUILD side of the range condition, which
    q_stream_outer_join (probe side, pts < wm) cannot exercise.

    Scale: state shape identical to the other modes — both sides keyed
    by user, rows evicted as the state watermark passes; right-outer
    adds only the emit-on-evict path for the click side."""
    joined = _purchase_click_join(spark, sf_dir, "rightOuter").select(
        "p_id",
        "c_id",
        F.col("c_user_id").alias("user_id"),
        F.unix_timestamp("cts").alias("click_sec"),
    )
    return run_to_memory(joined, "append")


@register(
    "q_stream_chained_agg",
    oracle="""
    WITH per_user AS (
        SELECT date_trunc('hour', ts) AS win, user_id, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    wm AS (SELECT MAX(ts) - INTERVAL 10 MINUTE AS w FROM events)
    SELECT CAST(epoch(win) AS BIGINT) AS win_start_sec,
           COUNT(*) AS active_users,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM per_user, wm
    WHERE win + INTERVAL 1 HOUR <= wm.w
    GROUP BY win
    """,
    tags=("I1", "I4", "D1"),
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark ≥3.4
    multiple-stateful-operator support): per-(hour, user) counts feed a
    second per-hour aggregation (active users + total events) — the
    two-level rollup an operational dashboard computes, previously
    impossible without an intermediate sink. Both stages run in append
    mode, so a window only crosses each stage once the watermark passes
    its end; the oracle encodes exactly that eviction gate — hours
    whose end exceeds max(ts)−10min are withheld, and the driver check
    pins the gating semantics, not just the arithmetic."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    per_user = ev.groupBy(F.window("ts", "1 hour"), "user_id").agg(
        F.count("*").alias("n")
    )
    per_hour = per_user.groupBy("window").agg(
        F.count("*").alias("active_users"),
        F.sum("n").cast("bigint").alias("total_events"),
    )
    out = per_hour.select(
        F.unix_timestamp(F.col("window.start")).alias("win_start_sec"),
        "active_users",
        "total_events",
    )
    return run_to_memory(out, "append")


@register(
    "q_stream_infer",
    oracle=_INFER_ORACLE,
    tags=("I8", "J1"),
)
def q_stream_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPERATIONAL STREAMING INFERENCE — the reference's end-state
    [PK]: newly-arriving batches scored as they land. The embeddings
    table becomes a bounded file stream; the nearest-centroid model
    (fit in batch — train offline, serve online) is applied per
    microbatch through the same Iterator Arrow UDF as q_infer_batch,
    so model init amortizes per worker across every batch the worker
    sees. availableNow drains the stream and the full prediction set
    must hash-match the BATCH inference oracle exactly — the
    stream-batch equivalence that makes an online scorer trustworthy:
    same model, same rows, same answers, regardless of arrival
    batching."""
    centroids, labels = fit_centroids(t(spark, sf_dir, "embeddings"))
    predict = make_predict_udf(centroids, labels)
    stream = (
        spark.readStream.schema(parquet_schema(spark, f"{sf_dir}/embeddings.parquet"))
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )
    scored = stream.select("vec_id", "label", predict("embedding").alias("pred"))
    return run_to_memory(scored, "append")


@register(
    "q_stream_ewma",
    oracle=EWMA_ORACLE,
    tags=("I6", "D10", "timeseries"),
)
def q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_timeseries_ewma (the recursive-update shape
    its docstring promises): per event_type the state holds only the
    16 most-recent (ts, event_id, cents) ticks — bounded regardless of
    stream length — and every microbatch emits the current exact
    dyadic EWMA numerator (Σ cents·2^(15-k), alpha=1/2, ×2^16 scale).
    Because the state is the top-16 by a total order, the final value
    is independent of how the source splits into microbatches; a
    monotone seen-count picks the last emission per key (update mode
    re-emits prefixes), and the drained result must hash-equal the
    batch spelling's oracle — streaming/batch parity on an exact
    integer statistic."""
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("event_type", "ts", "event_id", cents("value").alias("cents"))
    )

    def fold(key, state, rows):
        ts_l = list(state[0]) + rows["ts"].astype("int64").tolist()
        id_l = list(state[1]) + rows["event_id"].tolist()
        c_l = list(state[2]) + rows["cents"].tolist()
        order = sorted(range(len(ts_l)), key=lambda i: (ts_l[i], id_l[i]), reverse=True)
        keep = order[:16]
        c_l = [int(c_l[i]) for i in keep]
        ewma = sum(c * (1 << (15 - k)) for k, c in enumerate(c_l))
        state = ([int(ts_l[i]) for i in keep], [int(id_l[i]) for i in keep], c_l)
        out = {"event_type": [key[0]], "ewma_num_x2e16": [ewma], "n_ticks": [len(c_l)]}
        return state, out

    return drain_stateful(
        ev,
        ["event_type"],
        fold,
        ([], [], []),
        "ts ARRAY<BIGINT>, ids ARRAY<BIGINT>, cents ARRAY<BIGINT>",
        "event_type STRING, ewma_num_x2e16 BIGINT, n_ticks BIGINT",
    )


@register(
    "q_stream_twap",
    oracle=TWAP_ORACLE,
    tags=("I6", "timeseries", "E2"),
)
def q_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_timeseries_twap: per (event_type, hour bar)
    the state holds the bar's ticks (bounded by ticks-per-bar, the
    honest price of emitting an exact mid-bar TWAP — unlike the EWMA's
    fixed-16 state, time weights need every neighbor gap), and every
    microbatch re-emits the bar's exact (Σ cents·µs, Σ µs) rational
    with the last tick provisionally held to the bar end. Because each
    emission is recomputed from the full per-bar tick set, the drained
    last emission per bar is independent of how the source splits into
    microbatches or what order ticks arrive — it must hash-equal the
    BATCH spelling's oracle (same TWAP_ORACLE text), the stream-batch
    parity contract. A monotone tick count picks the last emission in
    update mode."""
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("h"),
            "ts",
            "event_id",
            cents("value").alias("cents"),
        )
    )

    def fold(key, state, rows):
        # µs since epoch, matching the oracle's epoch_us
        us = rows["ts"].astype("datetime64[us]").astype("int64")
        ts_l = list(state[0]) + us.tolist()
        id_l = list(state[1]) + rows["event_id"].tolist()
        c_l = list(state[2]) + rows["cents"].tolist()
        order = sorted(range(len(ts_l)), key=lambda i: (ts_l[i], id_l[i]))
        t_s = [int(ts_l[i]) for i in order]
        c_s = [int(c_l[i]) for i in order]
        hour_sec = calendar.timegm(key[1].timetuple())
        hour_end_us = (hour_sec + 3600) * 1_000_000
        num = sum(c * (nxt - t) for c, t, nxt in zip(c_s, t_s, t_s[1:] + [hour_end_us]))
        out = {
            "event_type": [key[0]],
            "hour_sec": [hour_sec],
            "twap_num": [num],
            "twap_den": [hour_end_us - t_s[0]],
        }
        return (ts_l, id_l, c_l), out

    return drain_stateful(
        ev,
        ["event_type", "h"],
        fold,
        ([], [], []),
        "ts ARRAY<BIGINT>, ids ARRAY<BIGINT>, cents ARRAY<BIGINT>",
        "event_type STRING, hour_sec BIGINT, twap_num BIGINT, twap_den BIGINT",
        answer_keys=["event_type", "hour_sec"],
    )


@register(
    "q_stream_topk",
    oracle="""
    WITH r AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY CAST(ROUND(value * 100, 0) AS BIGINT) DESC,
                            event_id) AS rank
        FROM events
    )
    SELECT event_type, rank, event_id, cents FROM r WHERE rank <= 5
    """,
    tags=("I6", "F2"),
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING TOP-K maintenance — the live-leaderboard operator: per
    event_type the state holds ONLY the current top-5 events by
    (cents desc, event_id asc) — O(k) state per key, bounded for any
    stream length — and every microbatch re-emits the current
    leaderboard. Top-k by a total order is a semilattice merge
    (merge(old, batch) = top-k of the union), so the final leaderboard
    is independent of how the source splits into microbatches, and the
    drained result must hash-equal the batch ROW_NUMBER spelling — the
    same exact streaming/batch-parity contract as q_stream_ewma. A
    monotone seen-count picks each key's LAST emission (update mode
    re-emits prefixes)."""
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select("event_type", "event_id", cents("value").alias("cents"))
    )

    def fold(key, state, rows):
        id_l = list(state[0]) + rows["event_id"].tolist()
        c_l = list(state[1]) + rows["cents"].tolist()
        keep = sorted(range(len(c_l)), key=lambda i: (-c_l[i], id_l[i]))[:5]
        id_l = [int(id_l[i]) for i in keep]
        c_l = [int(c_l[i]) for i in keep]
        out = {
            "event_type": [key[0]] * len(id_l),
            "rank": list(range(1, len(id_l) + 1)),
            "event_id": id_l,
            "cents": c_l,
        }
        return (id_l, c_l), out

    # the leaderboard never shrinks, so every final rank row is in the
    # key's last emission
    return drain_stateful(
        ev,
        ["event_type"],
        fold,
        ([], []),
        "ids ARRAY<BIGINT>, cents ARRAY<BIGINT>",
        "event_type STRING, rank BIGINT, event_id BIGINT, cents BIGINT",
        answer_keys=["event_type", "rank"],
    )


@register(
    "q_stream_bitmap_audience",
    oracle=BITMAP_AUDIENCE_ORACLE,
    tags=("I1", "H11", "D1"),
)
def q_stream_bitmap_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_bitmap_audience — audience bitmaps
    maintained over the live stream: the per-(type, word-index)
    bitmap word is a bit_or aggregate, and OR is the perfect
    streaming statistic (idempotent + commutative + associative — a
    semilattice merge), so the drained words are EXACTLY the batch
    words no matter how the source splits into microbatches or how
    often a row is replayed (at-least-once delivery cannot corrupt an
    OR). Complete-mode streaming aggregation builds the words; the
    pairwise AND/popcount overlap then runs as the identical batch
    tail on the drained sink, and the result must hash-equal the
    batch query's oracle."""
    ev = events_stream(spark, sf_dir).select(
        "event_type",
        F.expr("user_id DIV 64").alias("widx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias(
            "bit"
        ),
    )
    words_stream = ev.groupBy("event_type", "widx").agg(
        F.expr("bit_or(bit)").alias("word")
    )
    # the pin re-materializes the drained sink with FRESH
    # attribute ids: self-joining a memory-sink view directly trips a
    # Spark resolver internal error ("conflicting attributes" — the
    # same bug q_stream_topk works around with max_by); the pin
    # also snapshots the words so both join sides read one immutable
    # frame
    words = pin(
        run_to_memory(words_stream, "complete"),
        "q_stream_bitmap_audience.words",
    )
    return bitmap_overlap(words)


@register(
    "q_stream_drift",
    oracle=f"""
    WITH b AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) // 5000 AS bucket,
               CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                   AS is_ref
        FROM events
    ),
    {_DRIFT_REPORT_SQL}
    """,
    tags=("I1", "D3"),
)
def q_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of ml/cleaning.py's q_quality_drift — a live
    data-drift monitor: per-(bucket, slice) COUNTS are maintained by a
    complete-mode streaming aggregation (counts over disjoint
    microbatches are additive, so the drained totals are
    microbatch-split independent — the module's twin criterion), and
    the drift algebra (exact cross-difference dxr, TVD contribution in
    fixed-point e6) runs as the identical batch tail on the drained
    sink. In production the reference histogram is a static broadcast
    and the tumbling-window variant emits one drift row per window;
    the final-state form here is what an exact oracle can pin."""
    ev = events_stream(spark, sf_dir).withColumn("c", cents("value")).select(
        F.expr("c DIV 5000").alias("bucket"),
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    counts_stream = ev.groupBy("bucket").agg(
        F.sum("is_ref").cast("bigint").alias("ref_n"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("cur_n"),
    )
    agg = pin(run_to_memory(counts_stream, "complete"), "q_stream_drift.agg")
    return drift_report(agg)


RECONCILE_EVENTS_ORACLE = """
    WITH h AS (
        SELECT event_id % 16 AS bucket,
               ('0x' || substring(md5(
                    COALESCE(CAST(event_id AS VARCHAR), '<NULL>') || '|'
                    || COALESCE(event_type, '<NULL>') || '|'
                    || COALESCE(CAST(user_id AS VARCHAR), '<NULL>') || '|'
                    || COALESCE(CAST(CAST(ROUND(value * 100, 0) AS BIGINT)
                                     AS VARCHAR), '<NULL>') || '|'
                    || COALESCE(CAST(CAST(epoch(date_trunc('second', ts))
                                     AS BIGINT) AS VARCHAR), '<NULL>') || '|'
                    || COALESCE(md5(props), '<NULL>')), 1, 15)
               )::BIGINT AS h60
        FROM events)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(BIT_XOR(h60) AS BIGINT) AS xor60,
           CAST(SUM(h60 % 1000000000) AS BIGINT) AS sum_mod
    FROM h GROUP BY bucket
"""


@register(
    "q_stream_reconcile",
    oracle=RECONCILE_EVENTS_ORACLE,
    tags=("I1", "H9", "D1"),
)
def q_stream_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of q_reconcile_checksum over the events feed:
    per-bucket row-set fingerprints (60-bit md5-prefix XOR + count +
    modular sum) maintained as a complete-mode streaming aggregate,
    drained and required to hash-equal the batch oracle. The semantic
    point is the COMPLEMENT of q_stream_bitmap_audience's: OR is a
    semilattice (idempotent), so at-least-once replay can never
    corrupt it — but XOR, COUNT and SUM are associative+commutative
    WITHOUT idempotence, so this checksum is only correct under the
    exactly-once accounting Structured Streaming's state store
    provides (each input row folded into state exactly once per the
    checkpoint's offset log, however the microbatches split). That is
    precisely the guarantee a continuously-ingesting system relies on
    when it publishes live reconciliation fingerprints downstream.
    The hash and the report triple are the SHARED helpers
    (plans/scale.py row_fingerprint60 / checksum_report — review
    finding: a verbatim copy here had already drifted on null
    handling): every field canonicalizes identically in both engines
    (cents, second-truncated epoch, md5 of the raw props payload, and
    the '<NULL>' sentinel — Spark's concat_ws silently DROPS null
    args while DuckDB's || nulls the row, so nulls must never reach
    the concatenation)."""
    ev = events_stream(spark, sf_dir)
    agg = checksum_report(
        ev.select(
            (F.col("event_id") % 16).cast("bigint").alias("bucket"),
            row_fingerprint60(
                "event_id",
                "event_type",
                "user_id",
                cents("value"),
                F.unix_timestamp(F.date_trunc("second", F.col("ts"))),
                F.md5("props"),
            ).alias("h60"),
        )
    )
    return run_to_memory(agg, "complete")


@register(
    "q_stream_quality_gate",
    oracle=f"""
    WITH feat AS (
        SELECT source,
               len(string_split(text, ' ')) AS n_words,
               n_chars * 10 // len(string_split(text, ' ')) AS mean_len_e1,
               len(list_filter(string_split(text, ' '),
                   x -> list_contains({list(STOPWORDS)}, x)))
                   AS n_stop
        FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_words BETWEEN {GOPHER_WORDS[0]} AND {GOPHER_WORDS[1]}
                          AND mean_len_e1 BETWEEN {GOPHER_MEANLEN_E1[0]} AND {GOPHER_MEANLEN_E1[1]}
                          AND n_stop >= {GOPHER_MIN_STOP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM feat GROUP BY source
    """,
    tags=("I1", "K4", "P2", "streaming"),
)
def q_stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING curation gate — the crawl-ingest twin of
    q_quality_gopher: documents arrive as a file stream (new shards
    landing continuously in production) and each microbatch applies
    the MAP-SIDE quality rules (word-count bounds, mean-word-length
    e1 bounds, stopword floor — the three rules computable from one
    row with no per-doc aggregation; the duplicate-bigram rule needs
    a per-doc gram count and stays batch-side by design, documented
    here), then folds keep/drop counts per source into streaming
    state. availableNow + complete mode makes the final counts the
    batch answer, so the oracle is the same SQL the batch gate would
    check — stream-batch equivalence, the I-family discipline. At
    scale this is the shape that gates an ingest firehose: per-row
    rules are stateless map work, the only state is |sources|
    counters."""
    d = documents_stream(spark, sf_dir)
    toks = d.select(
        "source", F.split("text", " ").alias("w"), "n_chars"
    )
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    feat = toks.select(
        "source",
        F.size("w").alias("n_words"),
        F.expr("n_chars * 10 DIV size(w)").alias("mean_len_e1"),
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x))).alias(
            "n_stop"
        ),
    )
    agg = feat.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(
                F.col("n_words").between(*GOPHER_WORDS)
                & F.col("mean_len_e1").between(*GOPHER_MEANLEN_E1)
                & (F.col("n_stop") >= GOPHER_MIN_STOP),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("n_kept"),
    )
    return run_to_memory(agg, "complete")


@register(
    "q_stream_feature_serve",
    oracle="""
    WITH pts AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    dict AS (
        SELECT event_type,
               CAST(SUM(cents) // COUNT(*) AS BIGINT) AS te_c
        FROM pts GROUP BY event_type
    )
    SELECT p.event_type, d.te_c,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(p.event_id) AS BIGINT) AS id_sum
    FROM pts p JOIN dict d USING (event_type)
    GROUP BY p.event_type, d.te_c
    """,
    tags=("I7", "Q3", "streaming"),
)
def q_stream_feature_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE FEATURE SERVING — the streaming twin of the Q-family
    encoders: a target-encoding dictionary is learned BATCH-side (per
    event_type mean cents, exact BIGINT DIV — the ml/features.py
    aggregate shape) and served onto a live event stream via a
    STREAM-STATIC broadcast join, the feature-store online path: the
    model/dict is a bounded static frame republished per microbatch,
    the stream is never shuffled for the lookup, and training-time
    and serving-time features come from ONE definition (the
    train/serve skew every feature store exists to kill). Result:
    per-type event census with the served encoding and an id-sum
    checksum; the oracle recomputes dict and census from the same
    table, pinning batch/stream feature equality bit-for-bit. Per
    microbatch the only work is a hash lookup against the broadcast
    dict; the complete-mode census is the verification harness, not
    the serving path."""
    batch = t(spark, sf_dir, "events").select(
        "event_type",
        cents("value").alias("cents"),
    )
    dic = batch.groupBy("event_type").agg(
        F.expr("CAST(SUM(cents) DIV COUNT(*) AS BIGINT)").alias("te_c")
    )
    ev = events_stream(spark, sf_dir).select("event_type", "event_id")
    served = ev.join(F.broadcast(dic), "event_type")
    agg = served.groupBy("event_type", "te_c").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("event_id").cast("bigint").alias("id_sum"),
    )
    return run_to_memory(agg, "complete")


# Streaming CUSUM twin: the reference level is the floor-mean of the
# first REF_DAYS daily totals (whole dollars) and the alarm threshold
# is one full reference day of accumulated excess — both derived from
# the data, so the statistic is scale-free across fixture SFs.
CUSUM_REF_DAYS = 7

CUSUM_STREAM_ORACLE = f"""
    WITH {DAILY_DOLLARS_SQL},
    r AS (
        SELECT event_type, day, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS t
        FROM daily
    ),
    ref AS (
        SELECT event_type,
               CAST(SUM(y) // {CUSUM_REF_DAYS} AS BIGINT) AS ref
        FROM r WHERE t <= {CUSUM_REF_DAYS} GROUP BY event_type
    ),
    p AS (
        SELECT r.event_type, r.t,
               SUM(r.y - ref.ref) OVER (PARTITION BY r.event_type
                   ORDER BY r.t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pk
        FROM r JOIN ref ON ref.event_type = r.event_type
        WHERE r.t > {CUSUM_REF_DAYS}
    ),
    s AS (
        SELECT event_type, t, pk,
               pk - LEAST(CAST(0 AS BIGINT),
                   MIN(pk) OVER (PARTITION BY event_type ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 AS cusum
        FROM p
    ),
    fin AS (
        SELECT s.event_type,
               MAX(s.t) AS n_days,
               MAX(ref.ref) AS ref,
               CAST(COALESCE(MIN(CASE WHEN s.cusum > ref.ref
                                      THEN s.t END), 0) AS BIGINT)
                 AS alarm_t
        FROM s JOIN ref ON ref.event_type = s.event_type
        GROUP BY s.event_type
    )
    SELECT event_type, CAST(n_days AS BIGINT) AS n_days,
           CAST(ref AS BIGINT) AS ref, alarm_t
    FROM fin ORDER BY event_type
"""


@register(
    "q_stream_cusum",
    oracle=CUSUM_STREAM_ORACLE,
    tags=("I6", "M2", "timeseries"),
)
def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING one-sided CUSUM drift alarm (Page 1954 — the ONLINE
    form of q_changepoint_cusum's offline argmax): per event_type the
    state is a day -> (dollar-sum) map — bounded by the CALENDAR, not
    the stream, and built from COMMUTATIVE sums, so the drained result
    is independent of how the source splits into microbatches (no
    order assumption at all, unlike a tick-level recursion). Every
    emission re-derives the full decision from the map: reference =
    floor-mean of the first 7 daily totals, S_t = max(0, S_{{t-1}} +
    y_t - ref) over the remaining days via the prefix-minus-running-
    min identity (S_t = P_t - min(0, min P)), alarm at the first day
    S_t exceeds one reference day. All integers; the drained maximum-
    progress emission must hash-equal the batch oracle — the
    streaming/batch parity discipline of q_stream_ewma applied to
    sequential drift detection."""
    ev = (
        events_stream(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .select(
            "event_type",
            F.col("ts").cast("date").cast("string").alias("day"),
            cents("value").alias("cents"),
        )
    )

    def fold(key, state, rows):
        acc = dict(zip(list(state[0]), list(state[1])))
        for d, c in zip(rows["day"], rows["cents"]):
            acc[str(d)] = acc.get(str(d), 0) + int(c)
        days_sorted = sorted(acc)
        ys = [acc[d] // 100 for d in days_sorted]
        ref_n = CUSUM_REF_DAYS
        if len(ys) > ref_n:
            ref = sum(ys[:ref_n]) // ref_n
            s, alarm = 0, 0
            for i, y in enumerate(ys[ref_n:], start=ref_n + 1):
                s = max(0, s + y - ref)
                if alarm == 0 and s > ref:
                    alarm = i
        else:
            ref, alarm = 0, 0
        out = {"event_type": [key[0]], "n_days": [len(ys)], "ref": [ref]}
        out["alarm_t"] = [alarm]
        return (days_sorted, [acc[d] for d in days_sorted]), out

    return drain_stateful(
        ev,
        ["event_type"],
        fold,
        ([], []),
        "days ARRAY<STRING>, sums ARRAY<BIGINT>",
        "event_type STRING, n_days BIGINT, ref BIGINT, alarm_t BIGINT",
    )
