"""E1–E4: window functions (SURVEY.md §2-E).

Every ORDER BY inside a window includes a unique tiebreak column
(orderkey / linenumber) so ranking is deterministic across engines —
rank over a non-unique ordering is the classic cross-engine flake
(SURVEY §7 risk 3).

Scale note: a window = one shuffle on partitionBy keys + per-partition
sort. Keys here (custkey, suppkey) are high-cardinality, so partitions
stay small; a low-cardinality partitionBy (e.g. returnflag) over 100 TB
would funnel everything into 3 tasks — deliberately avoided.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rk,
           DENSE_RANK() OVER w AS drk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("E1",),
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking trio per customer (top-confidence-per-class analog)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rk"),
        F.dense_rank().over(w).alias("drk"),
    )


@register(
    "q_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(o_orderdate AS DATE) AS odate,
           COALESCE(LAG(CAST(o_orderdate AS DATE)) OVER w, DATE '1900-01-01') AS prev_date,
           COALESCE(LEAD(o_orderkey) OVER w, -1) AS next_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("E2",),
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead — year-over-year change detection done the window way
    instead of the reference's self-merge [PK]. Window-edge NULLs are
    coalesced to sentinels on both sides: NULL date/int surface as
    NaT/NaN vs None across the two engines' pandas bridges and would
    false-fail the value hash."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        F.coalesce(
            F.lag(F.col("o_orderdate").cast("date")).over(w), F.lit("1900-01-01").cast("date")
        ).alias("prev_date"),
        F.coalesce(F.lead("o_orderkey").over(w), F.lit(-1)).alias("next_key"),
    )


@register(
    "q_window_running",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           ROUND(SUM(l_extendedprice) OVER (
               w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_total,
           ROUND(AVG(l_quantity) OVER (
               w ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS moving_avg_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_orderkey, l_linenumber, l_extendedprice, l_quantity)
    """,
    tags=("E3",),
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame aggregates: running total + moving average per supplier.

    The fixture lineitem has duplicate (l_orderkey, l_linenumber) pairs,
    so price+quantity join the ORDER BY to make frame order fully
    deterministic across engines; remaining ties are identical rows,
    which are interchangeable in any frame."""
    order = [
        F.asc("l_orderkey"),
        F.asc("l_linenumber"),
        F.asc("l_extendedprice"),
        F.asc("l_quantity"),
    ]
    run = Window.partitionBy("l_suppkey").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mov = Window.partitionBy("l_suppkey").orderBy(*order).rowsBetween(-3, Window.currentRow)
    return t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.round(F.sum("l_extendedprice").over(run), 4).alias("running_total"),
        F.round(F.avg("l_quantity").over(mov), 6).alias("moving_avg_qty"),
    )


@register(
    "q_window_range_frame",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_totalprice,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    f AS (
        SELECT o_orderkey, o_totalprice,
               COUNT(*) OVER w AS cnt,
               CAST(SUM(cents) OVER w AS BIGINT) AS sum_c
        FROM o
        WINDOW w AS (ORDER BY cents RANGE BETWEEN 100000 PRECEDING AND 100000 FOLLOWING)
    )
    SELECT o_orderkey, o_totalprice, cnt AS n_within_1k,
           CAST((sum_c * 200 + cnt) // (2 * cnt) AS BIGINT) / 10000.0 AS avg_within_1k
    FROM f
    """,
    tags=("E3",),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): peers within ±1000 of
    each row's price. Unlike ROWS frames, ties don't need a tiebreak —
    the frame is defined by the ORDER-BY value itself.

    The frame orders and sums over integer CENTS, and the average is
    rounded to 4 decimals with INTEGER round-half-up arithmetic
    ((200·sum + n) div 2n, then /10^4): a double-valued frame diverges
    in last-ulp summation order, and even an exact double average hits
    round-half ties where Spark (half-up) and DuckDB (half-even)
    disagree — both were round-1/round-2 driver reds."""
    c = cents("o_totalprice")
    w = Window.orderBy("cents").rangeBetween(-100_000, 100_000)
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice", c.alias("cents"))
        .select(
            "o_orderkey",
            "o_totalprice",
            F.count("*").over(w).alias("cnt"),
            F.sum("cents").over(w).alias("sum_c"),
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.col("cnt").alias("n_within_1k"),
            (
                F.expr("(sum_c * 200 + cnt) DIV (2 * cnt)") / F.lit(10000.0)
            ).alias("avg_within_1k"),
        )
    )


@register(
    "q_sessionize",
    oracle="""
    WITH e AS (
        -- CAST: DuckDB epoch() is DOUBLE; Spark unix_timestamp is BIGINT,
        -- and the driver's value hash is dtype-exact.
        SELECT user_id, CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS tsec,
               event_id
        FROM events
    ),
    flagged AS (
        SELECT user_id, tsec, event_id,
               CASE WHEN tsec - LAG(tsec) OVER w > 1800 OR LAG(tsec) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsec, event_id)
    ),
    sessions AS (
        -- CAST: DuckDB windowed SUM(int) is HUGEINT (fetchdf -> float64);
        -- Spark emits BIGINT.
        SELECT user_id, tsec,
               CAST(SUM(is_start) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MAX(tsec) - MIN(tsec) AS duration_sec
    FROM sessions GROUP BY user_id, session_id
    """,
    tags=("E2", "E3", "I3"),
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min inactivity gap) — the lag-flag-cumsum
    idiom: one window pass marks session starts, a running sum numbers
    them, a groupBy summarizes. The batch twin of q_stream_session (I3)
    and the standard eventization of any activity log.

    Scale: two window passes + one agg, all partitioned by user_id —
    high-cardinality key, no global sort anywhere."""
    from ..sources.tables import t as _t

    ev = _t(spark, sf_dir, "events")
    tsec = F.unix_timestamp(F.date_trunc("second", F.col("ts"))).alias("tsec")
    e = ev.select("user_id", tsec, "event_id")
    w = Window.partitionBy("user_id").orderBy("tsec", "event_id")
    flagged = e.withColumn(
        "is_start",
        F.when(
            (F.col("tsec") - F.lag("tsec").over(w) > 1800)
            | F.lag("tsec").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    cum = Window.partitionBy("user_id").orderBy("tsec", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = flagged.withColumn("session_id", F.sum("is_start").over(cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max("tsec") - F.min("tsec")).alias("duration_sec"),
    )


@register(
    "q_window_ntile",
    oracle="""
    SELECT o_orderkey,
           NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
           ROUND(PERCENT_RANK() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS pr,
           ROUND(CUME_DIST() OVER (ORDER BY o_totalprice, o_orderkey), 6) AS cd
    FROM orders
    """,
    tags=("E4",),
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deciles over a global ordering. NOTE: an unpartitioned window is a
    single-task sort — fine for a report over an already-reduced result,
    never over a raw 100 TB fact (use approx quantiles there, D9/D5)."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@register(
    "q_upsert_latest",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS last_sec,
           ROUND(value, 6) AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id
            ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("composite", "E1", "I5"),
)
def q_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/SCD1 snapshot: collapse an event log to the LATEST row per
    key — the upsert/merge primitive every lake pipeline needs (without
    a table format, latest-wins is a window dedup). Ordering key is the
    second-truncated timestamp with event_id tiebreak: deterministic
    across engines (Spark sees µs, DuckDB ns — raw-ts ordering could
    disagree below the second). Scale: one shuffle on user_id and
    WindowGroupLimit keeps only the per-key max row per partition."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.unix_timestamp(F.date_trunc("second", "ts")).alias("last_sec"),
            F.round("value", 6).alias("last_value"),
        )
    )


@register(
    "q_window_firstlast",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_partkey,
           FIRST_VALUE(l_partkey) OVER w AS first_pk,
           LAST_VALUE(l_partkey) OVER w AS last_pk,
           COALESCE(NTH_VALUE(l_partkey, 2) OVER w, -1) AS second_pk
    FROM lineitem
    WINDOW w AS (
        PARTITION BY l_orderkey
        ORDER BY l_linenumber, l_partkey, l_suppkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    tags=("E3",),
)
def q_window_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value over the FULL partition
    frame (default frames differ per engine and per function — pinning
    ROWS UNBOUNDED..UNBOUNDED on all three is the only portable
    reading). Ordering adds l_partkey+l_suppkey tiebreaks because the
    fixture has duplicate (l_orderkey, l_linenumber) pairs; nth_value's
    NULL on 1-row groups is coalesced to -1 to keep the column BIGINT
    on both engines (a NULL would float64-ify the pandas compare).
    Scale: one shuffle on l_orderkey, single window pass."""
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        F.first("l_partkey").over(w).alias("first_pk"),
        F.last("l_partkey").over(w).alias("last_pk"),
        F.coalesce(F.nth_value("l_partkey", 2).over(w), F.lit(-1)).alias("second_pk"),
    )


@register(
    "q_window_time_range",
    oracle="""
    WITH e AS (
        SELECT event_id, user_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events)
    SELECT event_id, user_id, sec,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(cents) OVER w AS BIGINT) AS cents_last_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY sec
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    tags=("E3", "H3"),
)
def q_window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling TIME-window aggregate per row — "this user's activity in
    the trailing hour, as of each event": a RANGE frame over epoch
    seconds (value-based peers, unlike q_window_running's ROWS frame,
    and over time, unlike q_window_range_frame's price ranges). The
    sliding-window feature every fraud/abuse scorer computes, with no
    self-join and no explode — one window pass per user partition;
    sums in integer cents so frame totals are exact. Rows sharing a
    second are peers and see the same frame on both engines (the
    tiebreak-free semantics ROWS frames can't give)."""
    ev = t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("sec"),
        cents("value").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-3600, 0)
    return e.select(
        "event_id",
        "user_id",
        "sec",
        F.count("*").over(w).cast("bigint").alias("n_last_hour"),
        F.sum("cents").over(w).cast("bigint").alias("cents_last_hour"),
    )


@register(
    "q_window_rolling_median",
    oracle="""
    SELECT event_id,
           event_type,
           CAST(quantile_disc(CAST(ROUND(value * 100, 0) AS BIGINT), 0.5)
                OVER w5 AS BIGINT) AS med5_c,
           CAST(quantile_disc(CAST(ROUND(value * 100, 0) AS BIGINT), 0.9)
                OVER w21 AS BIGINT) AS p90_21_c
    FROM events
    WINDOW
      w5  AS (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      w21 AS (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    """,
    tags=("E3", "D9", "timeseries"),
)
def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling EXACT order statistics — the robust-smoothing windows a
    monitoring pipeline puts where a rolling mean would chase outliers:
    per event_type, the discrete median of the last 5 ticks and the
    discrete P90 of the last 21. Spark has no exact quantile window
    aggregate, so the operator is the composition that stays entirely
    in the JVM: sort_array(collect_list(cents)) over the ROWS frame,
    then element_at at the discrete-quantile index ceil(n·q) (integer
    form (n·num + den − 1) div den) — bit-identical to DuckDB's
    quantile_disc for every partial window at the partition head
    (n = rows so far). The frame is hard-bounded
    (≤21 elements per row), so state stays O(frame), never O(partition)
    — the scale guard that makes collect_list-over-window safe; both
    windows share one (event_type) shuffle and one sort. Values in
    integer cents; ties ordered by event_id — deterministic in both
    engines."""
    c = cents("value")
    ev = t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", c.alias("cents")
    )
    w5 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    w21 = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, Window.currentRow)
    )

    def disc_quantile(w, num: int, den: int):
        arr = F.sort_array(F.collect_list("cents").over(w))
        idx = (F.size(arr) * num + (den - 1)) / den
        return F.element_at(arr, F.floor(idx).cast("int"))

    return ev.select(
        "event_id",
        "event_type",
        disc_quantile(w5, 1, 2).alias("med5_c"),
        disc_quantile(w21, 9, 10).alias("p90_21_c"),
    )


@register(
    "q_window_normalize",
    oracle="""
    WITH pts AS (
        SELECT event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    w AS (
        SELECT event_type, ts, event_id, cents,
               CAST(COUNT(*) OVER tw AS BIGINT) AS n,
               CAST(SUM(cents) OVER tw AS BIGINT) AS s,
               CAST(SUM(cents * cents) OVER tw AS BIGINT) AS q,
               CAST(MIN(cents) OVER tw AS BIGINT) AS lo,
               CAST(MAX(cents) OVER tw AS BIGINT) AS hi
        FROM pts
        WINDOW tw AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, cents,
           CASE WHEN n * q - s * s > 0
                THEN ROUND((n * cents - s)
                           / SQRT(CAST(n AS DOUBLE) * (n * q - s * s)), 6)
           END AS zscore,
           CASE WHEN hi > lo
                THEN CAST((cents - lo) * 1000000 // (hi - lo) AS BIGINT)
           END AS minmax_e6
    FROM w
    """,
    tags=("E3", "D10", "timeseries"),
)
def q_window_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING NORMALIZATION — the feature-engineering window every ML
    pipeline applies before training: per event, the z-score and the
    min-max scaling against its series' trailing 20 ticks. The
    z-score multiplies the mean through (z = (n·x − S)/√(n·(nQ − S²)),
    all-integer numerator and radicand, ONE sqrt + ONE division of
    exact operands per row — no running float mean whose partial-sum
    order could differ); min-max is pure integer e6 (positive DIV //
    parity). Degenerate windows (zero variance / constant range)
    yield NULL on both sides rather than a 0/0. Plan: ONE
    event_type-keyed exchange feeds all five frame aggregates (they
    share the identical window spec) — the multi-statistic rolling
    pass costs exactly one shuffle at any scale."""
    pts = t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        cents("value").alias("cents"),
    )
    tw = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    w = pts.select(
        "event_id",
        "cents",
        F.count("*").over(tw).alias("n"),
        F.sum("cents").over(tw).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(tw).alias("q"),
        F.min("cents").over(tw).alias("lo"),
        F.max("cents").over(tw).alias("hi"),
    )
    var_num = F.col("n") * F.col("q") - F.col("s") * F.col("s")
    return w.select(
        "event_id",
        "cents",
        F.when(
            var_num > 0,
            F.round(
                (F.col("n") * F.col("cents") - F.col("s"))
                / F.sqrt(F.col("n").cast("double") * var_num.cast("double")),
                6,
            ),
        ).alias("zscore"),
        F.when(
            F.col("hi") > F.col("lo"),
            F.expr("CAST((cents - lo) * 1000000 DIV (hi - lo) AS BIGINT)"),
        ).alias("minmax_e6"),
    )


@register(
    "q_window_cume_nth",
    oracle="""
    WITH o AS (
        SELECT o_orderpriority AS grp, o_orderkey AS id,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    w AS (
        SELECT grp, id, cents,
               COUNT(*) OVER (PARTITION BY grp ORDER BY cents) AS n_le,
               COUNT(*) OVER (PARTITION BY grp) AS n,
               NTH_VALUE(cents, 3) OVER (
                   PARTITION BY grp ORDER BY cents, id
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING) AS third_lowest
        FROM o
    )
    SELECT grp, id, cents,
           CAST(n_le * 1000000 // n AS BIGINT) AS cume_e6,
           third_lowest
    FROM w
    WHERE cents < 500000
    """,
    tags=("E4", "E3"),
)
def q_window_cume_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUME_DIST + NTH_VALUE coverage in engine-portable integer form:
    cume_e6 = n_le·1e6 DIV n, where n_le is a RANGE-framed COUNT (the
    default cumulative frame with ORDER BY counts all peers of the
    current value — exactly CUME_DIST's numerator, with no float
    division), and the group's third-lowest price via NTH_VALUE over
    the full-partition ROWS frame with an (cents, id) total order so
    ties can't flip the picked row across engines. Completes the
    ranking-window family (row_number/rank/dense_rank/ntile/
    percent_rank are covered by q_window_rank / q_window_ntile).

    Plan: both counts and the nth-value share the per-group sort
    exchange — one shuffle, three window specs over it."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_orderkey").alias("id"),
        cents("o_totalprice").alias("cents"),
    )
    full = (
        Window.partitionBy("grp")
        .orderBy("cents", "id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = o.select(
        "grp",
        "id",
        "cents",
        F.count("*")
        .over(Window.partitionBy("grp").orderBy("cents"))
        .alias("n_le"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
        F.nth_value("cents", 3).over(full).alias("third_lowest"),
    )
    return w.filter(F.col("cents") < 500000).select(
        "grp",
        "id",
        "cents",
        F.expr("n_le * 1000000 DIV n").alias("cume_e6"),
        "third_lowest",
    )


@register(
    "q_window_rolling_slope",
    oracle="""
    WITH seq AS (
        SELECT event_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS x,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS y
        FROM events
    ),
    s AS (
        SELECT event_id, event_type,
               CAST(COUNT(*) OVER w AS DECIMAL(38, 0)) AS n,
               CAST(SUM(x) OVER w AS DECIMAL(38, 0)) AS sx,
               CAST(SUM(y) OVER w AS DECIMAL(38, 0)) AS sy,
               CAST(SUM(x * y) OVER w AS DECIMAL(38, 0)) AS sxy,
               CAST(SUM(x * x) OVER w AS DECIMAL(38, 0)) AS sxx
        FROM seq
        WINDOW w AS (PARTITION BY event_type ORDER BY x
                     ROWS BETWEEN 20 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, event_type,
           CASE WHEN n = 21 THEN
               ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6)
           END AS slope_c_per_tick
    FROM s
    """,
    tags=("E3", "D10", "timeseries"),
)
def q_window_rolling_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING least-squares slope — the local-trend detector behind
    momentum signals and degradation alarms: per event_type, the OLS
    slope of cents over the last 21 ticks, recomputed at every row.
    Exact by the q_timeseries_trend discipline applied to a moving
    frame: x is the ROW INDEX in the partition (OLS slope is invariant
    to shifting x, so the absolute index gives the same slope as a
    frame-local 1..21 — what makes plain windowed SUMs work where a
    frame-relative weight could not be expressed), all five sufficient
    statistics are integer window sums widened to DECIMAL(38,0), and
    floats appear only in the final division of two exact operands —
    identical doubles on both engines. Partial frames emit NULL (a
    21-point statistic from 3 points is noise, and the n=21 guard
    makes that explicit). Both the row_number pass and the five frame
    sums share ONE (event_type, ts) sort; state is O(frame).
    At extreme partition lengths (≥10⁹ rows) Σx² would need x rebased
    per bucket — shift-invariance makes that a free refinement."""
    from pyspark.sql import Window

    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        "ts",
        F.row_number().over(w_ord).cast("bigint").alias("x"),
        cents("value").alias("y"),
    )
    # frame ordered by the SAME keys as the row_number pass — x is a
    # bijection of (ts, event_id) within the partition, and matching
    # sort keys let both Window operators share one physical sort
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, Window.currentRow)
    )
    d38 = "decimal(38,0)"
    s = seq.select(
        "event_id",
        "event_type",
        F.count("*").over(w).cast(d38).alias("n"),
        F.sum("x").over(w).cast(d38).alias("sx"),
        F.sum("y").over(w).cast(d38).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast(d38).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast(d38).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        "event_id",
        "event_type",
        F.when(
            F.col("n") == 21,
            F.round(num.cast("double") / den.cast("double"), 6),
        ).alias("slope_c_per_tick"),
    )
