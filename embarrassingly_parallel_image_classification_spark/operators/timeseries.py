"""Time-series utilities over the events fixture: dense-spine gap
filling — the resample step every monitoring/feature pipeline needs
(downstream models want a row for every (hour, type), not only hours
that happened to have events).

Scale shape: the spine is (time-range / granularity) × |types| rows —
tiny regardless of data volume — so it broadcasts; the only shuffle is
the per-(hour, type) count of the fact table itself.

Money is integer cents (``tables.cents``). Each family that several
queries share has one builder: ``_hourly_spine`` (gapfill, ffill),
``_last_ticks`` and ``_weighted_ticks`` (the last-k tick frame and its
position-weighted BIGINT dots: ewma, holt, holt_winters; one weight
list per forecaster feeds both the broadcast frame and the oracle's
VALUES), and ``_daily_dollars`` over ``stats.daily_census`` (the
(type, day) census: sse, mase, decompose, croston). The oracles copy
no CTE of these families by hand either: ``_SPINE_SQL``,
``_LAST_TICKS_SQL`` and ``DAILY_DOLLARS_SQL`` are oracle-only
fragments.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import local_df
from ..registry import register
from ..sources.tables import cents, t
from .stats import (
    _XY_SUMS_SQL,
    _daily_sql,
    _xy_moments_sql,
    comoment,
    daily_census,
    moment_census,
    pearson_r,
)

# Oracle-only SQL fragments, one per copied CTE family (the Spark side
# has its own builders below; oracles share no code with the engine
# they check). Each starts at its first keyword and ends before the
# separator that follows it in the oracle.
_SPINE_SQL = """WITH b AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    spine AS (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b),
    types AS (SELECT DISTINCT event_type FROM events)"""

_LAST_TICKS_SQL = """pts AS (
        SELECT event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    )"""

DAILY_DOLLARS_SQL = """daily AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) // 100
                    AS BIGINT) AS y
        FROM events GROUP BY event_type, day
    )"""


def _hourly_spine(ev: DataFrame, agg: Column) -> DataFrame:
    """The dense hourly spine: every hour from the first event's hour to
    the last one's (``sequence`` exploded from a 1-row bounds aggregate,
    so the driver never sees the data), crossed with the broadcast
    distinct types and left-joined to ``agg`` per (hour, type). Columns:
    spine_h, spine_type, and agg's column, NULL on a gap hour."""
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("spine_h")
    )
    types = ev.select(F.col("event_type").alias("spine_type")).distinct()
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("cnt_h"), F.col("event_type").alias("cnt_type")
    ).agg(agg)
    return spine.crossJoin(F.broadcast(types)).join(
        hourly,
        (F.col("cnt_h") == F.col("spine_h"))
        & (F.col("cnt_type") == F.col("spine_type")),
        "left",
    )


def _last_ticks(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """(event_type, ts, event_id, cents, rn): each type's last ``k``
    ticks, rn = 1 for the latest by (ts desc, event_id desc) — a total
    order, so the cut is deterministic under duplicate timestamps. The
    rank plans as WindowGroupLimit: a per-partition top-k per type
    before the shuffle."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", cents("value").alias("cents")
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def _values_sql(rows: list[tuple]) -> str:
    """A weight list rendered as the oracle's VALUES rows."""
    return ", ".join("(" + ", ".join(map(str, r)) + ")" for r in rows)


def _weighted_ticks(
    spark: SparkSession, sf_dir: str, rows: list[tuple], schema: str, dots: dict
) -> DataFrame:
    """Per event_type, exact BIGINT dot products of the last k ticks'
    cents with position weights: ``rows`` holds one (pos, weight, ...)
    tuple per position 1..k (oldest first; the oracle's VALUES renders
    the same list), broadcast and joined on pos; ``dots`` maps each
    output column to its weight expression over those columns. Types
    with fewer than k ticks are dropped."""
    k = len(rows)
    recent = _last_ticks(spark, sf_dir, k).withColumn("pos", k + 1 - F.col("rn"))
    return (
        recent.join(F.broadcast(local_df(spark, rows, schema)), "pos")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_ticks"),
            *[
                F.sum(F.col("cents") * w).cast("bigint").alias(name)
                for name, w in dots.items()
            ],
        )
        .filter(F.col("n_ticks") == k)
    )


def _daily_dollars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, y): each type's daily revenue in whole dollars,
    the floor of the day's exact cent sum over 100 (non-negative, so
    Spark's truncating ``div`` and DuckDB's flooring ``//`` agree)."""
    return daily_census(
        spark, sf_dir, F.expr("CAST(SUM(cents) div 100 AS BIGINT)").alias("y")
    )


@register(
    "q_timeseries_gapfill",
    oracle=f"""
    {_SPINE_SQL},
    counts AS (
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(epoch(s.h) AS BIGINT) AS hour_sec,
           t.event_type,
           COALESCE(c.n, 0) AS n,
           c.n IS NULL AS is_gap
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
    """,
    tags=("composite", "D1", "C3", "H3"),
)
def q_timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts per type on a DENSE hourly spine: hours with
    no events appear with n=0 and is_gap=true. Spine = sequence(min
    hour, max hour) exploded from a 1-row aggregate — driver never sees
    the data; counts shuffle once on (hour, type)."""
    ev = t(spark, sf_dir, "events")
    return _hourly_spine(ev, F.count("*").alias("n")).select(
        F.unix_timestamp("spine_h").alias("hour_sec"),
        F.col("spine_type").alias("event_type"),
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
        F.col("n").isNull().alias("is_gap"),
    )


@register(
    "q_funnel",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup'
                   THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END)
                   AS t_signup,
               MIN(CASE WHEN event_type = 'click'
                   THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END)
                   AS t_click,
               MIN(CASE WHEN event_type = 'purchase'
                   THEN CAST(epoch(date_trunc('second', ts)) AS BIGINT) END)
                   AS t_purchase
        FROM events GROUP BY user_id)
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END)
                AS BIGINT) AS n_signup_then_click,
           CAST(SUM(CASE WHEN t_click > t_signup AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
    FROM per_user
    """,
    tags=("composite", "D3", "E2"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel signup → first click → first purchase:
    conditional MIN timestamps per user, then strict-order comparisons
    (NULL semantics make 'never did X' drop out of the > tests on both
    engines identically). Two aggregations, one shuffle on user_id —
    the funnel never materializes per-event state. Timestamps compared
    at second granularity as BIGINT (ns-parquet / µs-Spark safe)."""
    ev = t(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))

    def first_ts(kind: str):
        return F.min(F.when(F.col("event_type") == kind, sec)).alias(f"t_{kind}")

    per_user = ev.groupBy("user_id").agg(
        first_ts("signup"), first_ts("click"), first_ts("purchase")
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)).alias("n_signup"),
        F.sum(F.when(F.col("t_click") > F.col("t_signup"), 1).otherwise(0)).alias(
            "n_signup_then_click"
        ),
        F.sum(
            F.when(
                (F.col("t_click") > F.col("t_signup"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )


@register(
    "q_cohort_retention",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events),
    fc AS (SELECT user_id, MIN(d) AS cohort_d FROM ud GROUP BY user_id)
    SELECT fc.cohort_d,
           CAST(datediff('day', fc.cohort_d, ud.d) AS BIGINT) AS day_offset,
           COUNT(*) AS n_active
    FROM ud JOIN fc ON ud.user_id = fc.user_id
    GROUP BY fc.cohort_d, day_offset
    """,
    tags=("composite", "D1", "C1"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users bucketed by first-active day,
    activity counted per (cohort, days-since-cohort). Offsets are
    day-integers (datediff), not week truncations — engine week-start
    conventions never enter. Scale: the distinct (user, day) set is the
    only fact-sized shuffle; the first-seen join is user-keyed."""
    ev = t(spark, sf_dir, "events")
    ud = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    fc = ud.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        ud.join(fc, "user_id")
        .select(
            "cohort_d",
            F.datediff(F.col("d"), F.col("cohort_d")).cast("bigint").alias("day_offset"),
        )
        .groupBy("cohort_d", "day_offset")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "q_scd2_lookup",
    oracle="""
    WITH daily AS (
        SELECT user_id, d, value AS day_value
        FROM (
            SELECT user_id,
                   CAST(date_trunc('day', ts) AS DATE) AS d,
                   value,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, CAST(date_trunc('day', ts) AS DATE)
                       ORDER BY date_trunc('second', ts) DESC, event_id DESC) AS rn
            FROM events)
        WHERE rn = 1),
    dim AS (
        SELECT user_id, day_value,
               d AS valid_from,
               COALESCE(LEAD(d) OVER (PARTITION BY user_id ORDER BY d),
                        DATE '2100-01-01') AS valid_to
        FROM daily),
    fact AS (
        SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS fd
        FROM events WHERE event_type = 'purchase')
    SELECT f.event_id, f.fd AS asof_day,
           ROUND(dim.day_value, 6) AS asof_value
    FROM fact f
    JOIN dim ON dim.user_id = f.user_id
            AND f.fd >= dim.valid_from AND f.fd < dim.valid_to
    """,
    tags=("composite", "C8", "E2"),
)
def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 effective-dated dimension lookup — the warehouse pattern
    the as-of join doesn't cover: (1) collapse a change log to daily
    snapshots (latest event per user-day, the q_upsert_latest idiom),
    (2) derive validity intervals [valid_from, valid_to) with LEAD —
    each row's window closes when the next opens, (3) point-in-time
    join facts by user + day-in-interval. Scale: the join is EQUI on
    user_id with the interval test as a residual — a hash join, never
    a range BNLJ; intervals per user are non-overlapping by
    construction so each fact matches exactly one dim row."""
    ev = t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    w_day = Window.partitionBy("user_id", "d").orderBy(
        F.date_trunc("second", F.col("ts")).desc(), F.col("event_id").desc()
    )
    daily = (
        ev.select("user_id", day.alias("d"), "value", "ts", "event_id")
        .withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("user_id", "d", F.col("value").alias("day_value"))
    )
    w_user = Window.partitionBy("user_id").orderBy("d")
    dim = daily.select(
        "user_id",
        "day_value",
        F.col("d").alias("valid_from"),
        F.coalesce(
            F.lead("d").over(w_user), F.lit("2100-01-01").cast("date")
        ).alias("valid_to"),
    )
    fact = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("f_user"), day.alias("fd")
    )
    return fact.join(
        dim,
        (F.col("user_id") == F.col("f_user"))
        & (F.col("fd") >= F.col("valid_from"))
        & (F.col("fd") < F.col("valid_to")),
    ).select(
        "event_id",
        F.col("fd").alias("asof_day"),
        F.round("day_value", 6).alias("asof_value"),
    )


@register(
    "q_timeseries_ffill",
    oracle=f"""
    {_SPINE_SQL},
    hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(epoch(s.h) AS BIGINT) AS hour_sec,
           t.event_type,
           c.cents IS NULL AS is_gap,
           LAST_VALUE(c.cents IGNORE NULLS) OVER (
               PARTITION BY t.event_type ORDER BY s.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN hourly c ON c.h = s.h AND c.event_type = t.event_type
    """,
    tags=("composite", "E2", "E3", "H3"),
)
def q_timeseries_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward fill (last observation carried forward): hourly per-type
    value totals on the dense spine, where gap hours inherit the most
    recent observed hour's total — F.last(ignorenulls=True) over a
    running ROWS frame, the LOCF resample every feature/monitoring
    pipeline needs. Leading hours before a type's first observation
    stay NULL on both engines. Totals are integer cents so the carry
    is bit-exact; one window pass per type after a single (hour, type)
    shuffle."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("spine_type")
        .orderBy("spine_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _hourly_spine(ev, F.sum(cents("value")).alias("cents")).select(
        F.unix_timestamp("spine_h").alias("hour_sec"),
        F.col("spine_type").alias("event_type"),
        F.col("cents").isNull().alias("is_gap"),
        F.last("cents", ignorenulls=True).over(w).alias("filled_cents"),
    )


@register(
    "q_timeseries_ohlc",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               date_trunc('hour', ts) AS bar,
               ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    ordered AS (
        SELECT event_type, bar, cents,
               ROW_NUMBER() OVER (PARTITION BY event_type, bar
                                  ORDER BY ts, event_id) AS rn_open,
               ROW_NUMBER() OVER (PARTITION BY event_type, bar
                                  ORDER BY ts DESC, event_id DESC) AS rn_close
        FROM pts
    )
    SELECT event_type,
           CAST(epoch(bar) AS BIGINT) AS bar_sec,
           CAST(MAX(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT) AS open,
           CAST(MAX(cents) AS BIGINT) AS high,
           CAST(MIN(cents) AS BIGINT) AS low,
           CAST(MAX(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT) AS close,
           COUNT(*) AS n_ticks
    FROM ordered
    GROUP BY event_type, bar
    """,
    tags=("E3", "D1", "timeseries"),
)
def q_timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the telemetry/market resample): per
    (event_type, hour bar) the first value (open), max (high), min
    (low), last value (close) and tick count — expressed with
    min_by/max_by on a composite (ts, event_id) order key, so open and
    close are deterministic even with duplicate timestamps; values in
    integer cents. One hash aggregate at scale — no window over the
    raw ticks (min_by/max_by carry the ordering inside the aggregate;
    the oracle spells the same thing with ROW_NUMBER because DuckDB's
    arg_min on a composite key needs the struct workaround)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        F.struct(F.col("ts"), F.col("event_id")).alias("ord"),
        cents("value").alias("cents"),
    )
    return ev.groupBy("event_type", "bar").agg(
        F.min_by("cents", "ord").cast("bigint").alias("open"),
        F.max("cents").cast("bigint").alias("high"),
        F.min("cents").cast("bigint").alias("low"),
        F.max_by("cents", "ord").cast("bigint").alias("close"),
        F.count("*").alias("n_ticks"),
    ).select(
        "event_type",
        F.unix_timestamp("bar").alias("bar_sec"),
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


@register(
    "q_timeseries_trend",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    base AS (SELECT event_type, MIN(sec) AS sec0 FROM pts GROUP BY event_type),
    xy AS (
        SELECT p.event_type, p.sec - b.sec0 AS x, p.cents AS y
        FROM pts p JOIN base b ON b.event_type = p.event_type
    ),
    sums AS (
        SELECT event_type,
               CAST(COUNT(*) AS DECIMAL(38, 0)) AS n,
               CAST(SUM(x) AS DECIMAL(38, 0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38, 0)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(38, 0)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(38, 0)) AS sxx
        FROM xy GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE) * 3600.0, 6)
               AS slope_cents_per_hour,
           ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
                 / CAST(n * (n * sxx - sx * sx) AS DOUBLE) / 100.0, 6)
               AS intercept_value
    FROM sums
    """,
    tags=("D10", "timeseries"),
)
def q_timeseries_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear trend (the forecasting baseline): least-squares
    slope/intercept of value over time per event_type, computed EXACTLY
    — x is integer seconds from the group's first event, y integer
    cents, and all five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    are integer sums widened to DECIMAL(38,0) before the closed-form
    combination, so no float enters until two final divisions on
    identical exact operands. The built-in regr_slope/regr_intercept
    compute the same formula in floats whose partial-sum order differs
    per engine — this is the repo's fixed-point discipline applied to
    a second-moment statistic. One hash aggregate per group + a
    broadcast-joined per-group epoch offset (without the offset, Σx²
    on raw epochs overflows even 128-bit at corpus scale)."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
        cents("value").alias("cents"),
    )
    base = ev.groupBy("event_type").agg(F.min("sec").alias("sec0"))
    xy = ev.join(F.broadcast(base), "event_type").select(
        "event_type",
        (F.col("sec") - F.col("sec0")).alias("x"),
        F.col("cents").alias("y"),
    )
    sums = moment_census(xy, ["x", "y"], ("event_type",))
    # intercept via the closed form (Σy·Σx² − Σx·Σxy) / (n·(nΣx² − Σx²)):
    # every operand stays an EXACT decimal and each output pays exactly
    # ONE double division — re-deriving intercept from the already-
    # divided slope doubled the float ops and landed a value on a
    # round-6 boundary that the two engines split (first-cut failure).
    num = comoment("x", "y").cast("double")
    den = comoment("x", "x").cast("double")
    inum = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast("double")
    iden = (F.col("n") * comoment("x", "x")).cast("double")
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(num / den * 3600.0, 6).alias("slope_cents_per_hour"),
        F.round(inum / iden / 100.0, 6).alias("intercept_value"),
    )


@register(
    "q_anomaly_3sigma",
    oracle="""
    WITH pts AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        FROM events
    ),
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS DECIMAL(38, 0)) AS n,
               CAST(SUM(c) AS DECIMAL(38, 0)) AS sc,
               CAST(SUM(c * c) AS DECIMAL(38, 0)) AS scc
        FROM pts GROUP BY event_type
    ),
    flagged AS (
        SELECT p.event_type, p.event_id, p.c,
               (p.n_dev > p.n_bound) AS is_outlier
        FROM (
            SELECT pts.*,
                   (s.n * pts.c - s.sc) * (s.n * pts.c - s.sc) AS n_dev,
                   9 * (s.n * s.scc - s.sc * s.sc) AS n_bound
            FROM pts JOIN stats s USING (event_type)
        ) p
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers,
           CAST(MIN(CASE WHEN is_outlier THEN event_id END) AS BIGINT)
               AS first_outlier_id
    FROM flagged GROUP BY event_type
    """,
    tags=("D10", "B2", "eval"),
)
def q_anomaly_3sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3σ anomaly detection: an event is an outlier iff
    (c − μ)² > 9σ², which multiplied through by n² becomes
    (n·c − Σc)² > 9·(n·Σc² − (Σc)²) — every operand an exact
    DECIMAL(38,0), no sqrt, no float, no epsilon. The standard z-score
    flag computed with zero cross-engine rounding surface (a float σ
    puts borderline events on different sides per engine). Two passes:
    per-type moments (one aggregate), then a broadcast join back over
    the scan — the same shape at 100 TB."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents("value").alias("c"),
    )
    d38 = "decimal(38,0)"
    stats = ev.groupBy("event_type").agg(
        F.count("*").cast(d38).alias("n"),
        F.sum("c").cast(d38).alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast(d38).alias("scc"),
    )
    joined = ev.join(F.broadcast(stats), "event_type")
    n_dev = (F.col("n") * F.col("c") - F.col("sc")) * (
        F.col("n") * F.col("c") - F.col("sc")
    )
    n_bound = 9 * (F.col("n") * F.col("scc") - F.col("sc") * F.col("sc"))
    flagged = joined.select(
        "event_type", "event_id", (n_dev > n_bound).alias("is_outlier")
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.col("is_outlier").cast("int")).cast("bigint").alias("n_outliers"),
        F.min(F.when(F.col("is_outlier"), F.col("event_id")))
        .cast("bigint")
        .alias("first_outlier_id"),
    )


# shared with the streaming twin (streaming/queries.py q_stream_ewma):
# both spellings must land on the identical exact integer statistic
EWMA_ORACLE = f"""
    WITH {_LAST_TICKS_SQL}
    SELECT event_type,
           CAST(SUM(cents * CAST(POWER(2, 16 - rn) AS BIGINT)) AS BIGINT)
               AS ewma_num_x2e16,
           COUNT(*) AS n_ticks
    FROM pts WHERE rn <= 16
    GROUP BY event_type
    """


@register(
    "q_timeseries_ewma",
    oracle=EWMA_ORACLE,
    tags=("D10", "E1", "timeseries"),
)
def q_timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT exponentially weighted moving average (the smoothing
    baseline next to q_timeseries_trend): per event_type, the EWMA of
    the last 16 ticks with the DYADIC decay alpha = 1/2 — s =
    Σ_{k=0..15} 2^-(k+1)·x_{t-k}. Scaling by 2^16 turns every weight
    into an exact integer power of two, so the whole statistic is one
    BIGINT sum (ewma = ewma_num_x2e16 / 2^16): no float enters in
    either engine and summation order is irrelevant — the same
    fixed-point discipline as the trend/anomaly queries, available
    here because the decay is dyadic (an 0.9-style alpha has no exact
    finite-precision spelling; the truncation at 16 lags costs < 2^-16
    of the mass). Scale shape: the recency rank plans as
    WindowGroupLimit (per-partition top-16 per type BEFORE the
    shuffle), then one hash aggregate — the streaming twin is the
    recursive s_t = (x_t + s_{t-1})/2 update in a stateful operator."""
    recent = _last_ticks(spark, sf_dir, 16)
    weight = F.pow(F.lit(2.0), 16 - F.col("rn")).cast("bigint")
    return recent.groupBy("event_type").agg(
        F.sum(F.col("cents") * weight).cast("bigint").alias("ewma_num_x2e16"),
        F.count("*").alias("n_ticks"),
    )


# shared with the streaming twin (streaming/queries.q_stream_twap),
# exactly like EWMA_ORACLE above — stream-batch parity on the same SQL
TWAP_ORACLE = """
    WITH x AS (
        SELECT event_type,
               date_trunc('hour', ts) AS h,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               epoch_us(COALESCE(
                   lead(ts) OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id),
                   date_trunc('hour', ts) + INTERVAL 1 HOUR)) - epoch_us(ts)
                   AS wt_us
        FROM events
    )
    SELECT event_type,
           CAST(epoch(h) AS BIGINT) AS hour_sec,
           CAST(SUM(cents * wt_us) AS BIGINT) AS twap_num,
           CAST(SUM(wt_us) AS BIGINT) AS twap_den
    FROM x
    GROUP BY event_type, h
    """


@register(
    "q_timeseries_twap",
    oracle=TWAP_ORACLE,
    tags=("timeseries", "E2", "D1"),
)
def q_timeseries_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price (TWAP) per (type, hour bar) — the
    finance/telemetry aggregate where each tick's value counts for how
    LONG it held, not how often it printed: weight = microseconds until
    the next tick in the bar (the bar's last tick holds to the bar
    end). Exposed as the exact rational (Σ cents·µs, Σ µs) — bigint
    numerator/denominator, no float division to disagree over; per-bar
    sums are bounded (Σwt ≤ 3.6e9 µs, num ≤ max_cents·3.6e9), far
    inside int64. One window + one aggregate, both keyed on
    (event_type, hour), so the window's sort reuses the aggregation
    shuffle partitioning; duplicate timestamps get zero weight except
    the last by event_id — deterministic in both engines."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        F.date_trunc("hour", "ts").alias("h"),
        cents("value").alias("cents"),
    )
    w = Window.partitionBy("event_type", "h").orderBy("ts", "event_id")
    x = ev.withColumn(
        "wt_us",
        F.unix_micros(
            F.coalesce(F.lead("ts").over(w), F.col("h") + F.expr("INTERVAL 1 HOUR"))
        )
        - F.unix_micros("ts"),
    )
    return x.groupBy("event_type", "h").agg(
        F.sum(F.col("cents") * F.col("wt_us")).cast("bigint").alias("twap_num"),
        F.sum("wt_us").cast("bigint").alias("twap_den"),
    ).select(
        "event_type",
        F.unix_timestamp("h").alias("hour_sec"),
        "twap_num",
        "twap_den",
    )


@register(
    "q_anomaly_mad",
    oracle="""
    WITH x AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    m AS (
        SELECT event_type, CAST(quantile_disc(cents, 0.5) AS BIGINT) AS med_c
        FROM x GROUP BY event_type
    ),
    d AS (
        SELECT x.event_id, x.event_type, x.cents, m.med_c,
               ABS(x.cents - m.med_c) AS adev
        FROM x JOIN m USING (event_type)
    ),
    s AS (
        SELECT event_type, CAST(quantile_disc(adev, 0.5) AS BIGINT) AS mad_c
        FROM d GROUP BY event_type
    )
    SELECT d.event_id, d.event_type, d.cents, d.med_c, s.mad_c
    FROM d JOIN s USING (event_type)
    WHERE ABS(d.cents - d.med_c) > 8 * s.mad_c
    """,
    tags=("D9", "D10", "timeseries"),
)
def q_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) anomaly detection — the outlier screen that
    q_anomaly_3sigma's docstring family needs when the data itself is
    outlier-contaminated: mean/stddev get dragged by the anomalies
    they're meant to find (breakdown point 0), the median absolute
    deviation does not (breakdown 0.5). Flags events more than 8 MADs
    from their type's median (≈5.4σ under normality). Both statistics
    are DISCRETE order statistics in integer cents via
    ``percentile_disc`` — a true distributed aggregate (no
    collect_list, no driver), bit-identical to DuckDB's quantile_disc
    — so the whole screen is exact and the tiny (type, med, mad)
    tables broadcast back onto the fact scan. (r12 A/B, negative
    result kept as-was: an explicit pinned (type, cents) census with
    cumulative-count medians measured 0.96–1.01 s warm vs 0.63 s for
    this spelling at sf0.1 — the census window chain adds sequential
    stages, and percentile_disc already aggregates a bounded per-group
    value-count map internally (the cents domain saturates: 17.8k
    distinct at sf0.1 vs 100k rows), so its memory is domain-bounded
    at any scale just like the explicit census.)"""
    x = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    med = x.groupBy("event_type").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY cents) AS BIGINT)"
        ).alias("med_c")
    )
    d = x.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_c"))
    )
    mad = d.groupBy("event_type").agg(
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS BIGINT)"
        ).alias("mad_c")
    )
    return (
        d.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 8 * F.col("mad_c"))
        .select("event_id", "event_type", "cents", "med_c", "mad_c")
    )


@register(
    "q_concurrency_peak",
    oracle="""
    WITH iv AS (
        SELECT event_type, event_id, ts AS s,
               ts + INTERVAL 5 MINUTE AS e
        FROM events
    ),
    pts AS (
        SELECT event_type, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT event_type, e AS t, -1 AS d FROM iv
    ),
    run AS (
        SELECT event_type, t, d,
               SUM(d) OVER (PARTITION BY event_type ORDER BY t, d
                            ROWS UNBOUNDED PRECEDING) AS cur
        FROM pts
    ),
    peak AS (
        SELECT event_type, CAST(MAX(cur) AS BIGINT) AS peak
        FROM run GROUP BY event_type
    )
    SELECT r.event_type, p.peak,
           CAST(MIN(epoch_us(r.t)) AS BIGINT) AS first_peak_us
    FROM run r JOIN peak p
      ON p.event_type = r.event_type AND r.cur = p.peak
    GROUP BY r.event_type, p.peak
    """,
    tags=("timeseries", "E3", "G1"),
)
def q_concurrency_peak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency — the occupancy/capacity question
    (max simultaneous sessions, peak open orders, room occupancy)
    answered without materializing any pairwise overlap join: each
    5-minute activity interval contributes a +1 at its start and a −1
    at its end, a running sum over the merged endpoint stream is the
    live concurrency, and its max per type is the peak (plus the first
    instant it is reached). Half-open-interval convention: at equal
    timestamps the −1 sorts first (ORDER BY t, d), so back-to-back
    intervals never double-count; equal-(t, d) endpoint order doesn't
    affect any partial sum, so the result is deterministic without an
    id tie-break. The per-type running sum is a prefix scan — at 100 TB
    with few types it distributes via the same two-phase
    partition-scan + offset-broadcast used by q_skyline's local/global
    frontier (documented there); the fixture spelling keeps the plain
    window.

    Plan (r12): the ±1 endpoint stream is ONE explode of a 2-struct
    array per interval (the union-of-two-selects spelling re-scanned
    the fact table twice), and the per-type peak is an unordered MAX
    window over the SAME partitioning as the running sum (no second
    sort, no broadcast self-join) — the whole query is one fact scan
    and one exchange."""
    ev = t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(F.col("ts").alias("t"), F.lit(1).alias("d")),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("t"),
                    F.lit(-1).alias("d"),
                ),
            )
        ).alias("p"),
    ).select("event_type", F.col("p.t").alias("t"), F.col("p.d").alias("d"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wpk = Window.partitionBy("event_type")
    run = pts.withColumn("cur", F.sum("d").over(w)).withColumn(
        "peak", F.max("cur").over(wpk).cast("bigint")
    )
    return (
        run.filter(F.col("cur") == F.col("peak"))
        .groupBy("event_type", "peak")
        .agg(F.min(F.unix_micros("t")).cast("bigint").alias("first_peak_us"))
        .select("event_type", "peak", "first_peak_us")
    )


def _event_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, ts, event_id, cents): events as per-type series in
    exact cents, ordered within a type by (ts, event_id)."""
    return t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        cents("value").alias("cents"),
    )


@register(
    "q_changepoint_cusum",
    oracle="""
    WITH pts AS (
        SELECT event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    run AS (
        SELECT event_type,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS k,
               SUM(cents) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS pk,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               SUM(cents) OVER (PARTITION BY event_type) AS s
        FROM pts
    ),
    g AS (
        SELECT event_type, k, n, pk, s,
               ABS(n * pk - k * s) AS g_abs,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ABS(n * pk - k * s) DESC, k) AS rk
        FROM run WHERE k < n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS split_k,
           ROUND(CAST(pk AS DOUBLE) / CAST(k AS DOUBLE) / 100.0, 6)
               AS mean_before,
           ROUND(CAST(s - pk AS DOUBLE) / CAST(n - k AS DOUBLE) / 100.0, 6)
               AS mean_after
    FROM g WHERE rk = 1
    """,
    tags=("D10", "E3", "timeseries"),
)
def q_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT CUSUM changepoint detection: per event_type, the split
    position k* maximizing |CUSUM_k| — with the mean multiplied
    through (G_k = n·P_k − k·S, P_k the prefix cents sum, S the
    total), the statistic is pure BIGINT and the argmax is decided on
    integers; ties break toward the earliest k, so the answer is
    total. This is the offline single-changepoint estimator (the
    two-means L2 split at fixed k reduces to maximizing |G_k| — Page's
    CUSUM shape [PK]); only the two reported segment means pay the one
    ROUND(6) double division on identical exact operands. Plan: one
    event_type-keyed shuffle feeds all four windows (prefix sum, row
    number, and the two whole-partition totals share the partitioning)
    plus the argmax rank — per-series state, the inherent shape of
    full-history changepoint detection; at 100 TB series are
    themselves partitioned (per type×week segments) and G recombines
    from per-segment partials (P_k offsets add), while BIGINT widens
    to DECIMAL(38,0) once n·P_k approaches 2^63 (the
    q_timeseries_trend discipline)."""
    pts = _event_cents(spark, sf_dir)
    by = Window.partitionBy("event_type").orderBy("ts", "event_id")
    whole = Window.partitionBy("event_type")
    run = pts.select(
        "event_type",
        F.row_number().over(by).alias("k"),
        F.sum("cents")
        .over(by.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("pk"),
        F.count("*").over(whole).alias("n"),
        F.sum("cents").over(whole).alias("s"),
    ).filter(F.col("k") < F.col("n"))
    g_abs = F.abs(F.col("n") * F.col("pk") - F.col("k") * F.col("s"))
    g = run.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(g_abs.desc(), F.asc("k"))
        ),
    ).filter(F.col("rk") == 1)
    return g.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("split_k"),
        F.round(F.col("pk").cast("double") / F.col("k").cast("double") / 100.0, 6).alias(
            "mean_before"
        ),
        F.round(
            (F.col("s") - F.col("pk")).cast("double")
            / (F.col("n") - F.col("k")).cast("double")
            / 100.0,
            6,
        ).alias("mean_after"),
    )


@register(
    "q_funnel_window",
    oracle="""
    WITH su AS (
        SELECT user_id,
               MIN(epoch_us(ts)) AS t_signup
        FROM events WHERE event_type = 'signup'
        GROUP BY user_id
    ),
    conv AS (
        SELECT s.user_id, s.t_signup,
               MIN(epoch_us(e.ts)) AS t_conv
        FROM su s JOIN events e
          ON e.user_id = s.user_id
         AND e.event_type = 'purchase'
         AND epoch_us(e.ts) > s.t_signup
         AND epoch_us(e.ts) <= s.t_signup + 86400000000
        GROUP BY s.user_id, s.t_signup
    )
    SELECT (SELECT COUNT(*) FROM su) AS n_signup,
           COUNT(*) AS n_converted_24h,
           ROUND(CAST(SUM(t_conv - t_signup) AS DOUBLE)
                 / COUNT(*) / 3600000000.0, 6) AS avg_hours_to_convert
    FROM conv
    """,
    tags=("composite", "D3", "timeseries"),
)
def q_funnel_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-CONSTRAINED conversion funnel — q_funnel with the
    attribution window every real funnel carries: a signup converts
    only if a purchase lands STRICTLY after it and within 24 hours,
    and time-to-convert is measured to the FIRST such purchase.
    Everything is integer microseconds (epoch_us both engines); the
    one reported average pays one ROUND(6) double division on
    identical exact operands. Plan: per-user first-signup aggregate
    (fact-sized shuffle #1), then a user-keyed join back to purchases
    with the window predicate riding the join — at 100 TB both sides
    hash on user_id and the join is co-partitioned; no per-event
    window function, no self-join on the raw table. The scalar signup
    count is a 1-row broadcast."""
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_signup"))
    )
    conv = (
        su.join(
            ev.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("us").alias("t_p")
            ),
            "user_id",
        )
        .filter(
            (F.col("t_p") > F.col("t_signup"))
            & (F.col("t_p") <= F.col("t_signup") + 86_400_000_000)
        )
        .groupBy("user_id", "t_signup")
        .agg(F.min("t_p").alias("t_conv"))
    )
    n_signup = su.agg(F.count("*").alias("n_signup"))
    return (
        conv.agg(
            F.count("*").alias("n_converted_24h"),
            F.round(
                F.sum(F.col("t_conv") - F.col("t_signup")).cast("double")
                / F.count("*")
                / 3_600_000_000.0,
                6,
            ).alias("avg_hours_to_convert"),
        )
        .crossJoin(F.broadcast(n_signup))
        .select("n_signup", "n_converted_24h", "avg_hours_to_convert")
    )


@register(
    "q_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
        FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                   AS island
        FROM days
    ),
    runs AS (
        SELECT user_id, island, COUNT(*) AS len
        FROM isl GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id
    """,
    tags=("E1", "D1", "composite"),
)
def q_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS — consecutive-day activity streaks per user
    (the engagement metric behind "7-day streak" features and churn
    models): distinct active days, then the classic island key
    d − row_number(d) (constant exactly along a consecutive run),
    then per-island lengths → per-user longest streak / streak count.
    Days are integer day-numbers from a fixed epoch (datediff both
    engines — no week/timezone convention enters). Plan: the distinct
    (user, day) set is the only fact-sized shuffle; both windows and
    both aggregates share the user_id partitioning, so the whole
    operator re-uses ONE exchange — at 100 TB this is sessionization's
    exact shuffle profile with day granularity."""
    days = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias("d"),
        )
        .distinct()
    )
    isl = days.withColumn(
        "island",
        F.col("d")
        - F.row_number().over(Window.partitionBy("user_id").orderBy("d")),
    )
    runs = isl.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count("*").cast("bigint").alias("n_streaks"),
    )


@register(
    "q_period_over_period",
    oracle="""
    WITH wk AS (
        SELECT event_type,
               datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
                   AS week_idx,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events
        GROUP BY 1, 2
    )
    SELECT event_type, week_idx, cents,
           LAG(cents) OVER (PARTITION BY event_type ORDER BY week_idx)
               AS prev_cents,
           cents - LAG(cents) OVER (PARTITION BY event_type
                                    ORDER BY week_idx) AS delta_cents,
           ROUND(CAST(cents - LAG(cents) OVER (PARTITION BY event_type
                                               ORDER BY week_idx) AS DOUBLE)
                 / CAST(LAG(cents) OVER (PARTITION BY event_type
                                         ORDER BY week_idx) AS DOUBLE), 6)
               AS pct_change
    FROM wk
    """,
    tags=("E2", "D1", "timeseries"),
)
def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERIOD-OVER-PERIOD report — the week-over-week delta every BI
    dashboard leads with: weekly cents per event_type, the previous
    week alongside (LAG), the exact integer delta, and the one
    ROUND(6) relative change (double division of identical exact
    operands; first weeks carry NULLs). Weeks are epoch-day DIV 7 —
    an engine-neutral bucketing immune to ISO-week/locale/week-start
    conventions (the classic cross-engine report bug). Plan: one
    fact-sized hash aggregate to (type, week), then the LAG window
    rides the |types|·|weeks| frame — at 100 TB the report frame is
    tiny regardless of fact volume."""
    wk = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7"
                " AS BIGINT)"
            ).alias("week_idx"),
        )
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("event_type").orderBy("week_idx")
    prev = F.lag("cents").over(w)
    return wk.select(
        "event_type",
        "week_idx",
        "cents",
        prev.alias("prev_cents"),
        (F.col("cents") - prev).alias("delta_cents"),
        F.round((F.col("cents") - prev).cast("double") / prev.cast("double"), 6).alias(
            "pct_change"
        ),
    )


@register(
    "q_timeseries_xcorr",
    oracle=f"""
    WITH bars AS (
        SELECT date_trunc('hour', ts) AS hr, event_type,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
    ),
    xy AS (
        SELECT a.cents AS x, b.cents AS y
        FROM bars a JOIN bars b ON a.hr = b.hr
        WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    ),
    s AS (
        SELECT {_XY_SUMS_SQL},
               CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_bars,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr
    FROM s
    """,
    tags=("D10", "timeseries", "eval"),
)
def q_timeseries_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SERIES Pearson correlation — does click volume track
    purchase volume hour by hour (the co-movement statistic behind
    leading-indicator and root-cause analysis): hourly cent sums of
    the two series align on the hour bar, and all six sufficient
    statistics (n, Σx, Σy, Σxy, Σx², Σy²) are integer sums widened to
    DECIMAL(38,0) — the q_timeseries_trend discipline extended to a
    cross-moment; floats enter only in the single final expression
    (one correctly-rounded double conversion per operand, one SQRT,
    one division — identical operand bits in both engines). Plan: one
    fact aggregate to (hour, type), a co-keyed self-join on the hour
    (both sides from the same tiny bar frame), one global aggregate.
    Never a row-level join of the two raw series."""
    bars = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(F.date_trunc("hour", "ts").alias("hr"), "event_type")
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("cents")
        )
    )
    xy = (
        bars.filter(F.col("event_type") == "click")
        .select("hr", F.col("cents").alias("x"))
        .join(
            bars.filter(F.col("event_type") == "purchase").select(
                "hr", F.col("cents").alias("y")
            ),
            "hr",
        )
    )
    return moment_census(xy, ["x", "y"]).select(
        F.col("n").cast("bigint").alias("n_bars"), pearson_r().alias("corr")
    )


@register(
    "q_window_drawdown",
    oracle="""
    WITH pts AS (
        SELECT event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    run AS (
        SELECT event_type, ts, event_id,
               SUM(cents) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM pts
    ),
    dd AS (
        SELECT event_type, cum,
               MAX(cum) OVER (PARTITION BY event_type
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS peak
        FROM run
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MAX(peak - cum) AS BIGINT) AS max_drawdown_cents
    FROM dd
    GROUP BY event_type
    """,
    tags=("E3", "D10", "timeseries"),
)
def q_window_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMUM DRAWDOWN per series — the risk statistic every
    portfolio/SLA monitor reports: with the cumulative value series
    C_k, drawdown is max_k(peak_k − C_k) where peak_k = max_{j≤k} C_j
    — the deepest drop from a running high. Pure BIGINT: cumulative
    cent sums, running max, one subtraction, one max — no float
    anywhere. Plan: one event_type-keyed exchange feeds the prefix
    sum, the running max, and the final aggregate (all share the
    partitioning). Per-series full-history scan is inherent to the
    statistic; at 100 TB series segment (type × epoch) and drawdown
    recombines from per-segment (max-drawdown, running-peak, head/tail
    cum) partials — the classic associative drawdown merge."""
    pts = _event_cents(spark, sf_dir)
    by = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cum_w = by.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    run = pts.withColumn("cum", F.sum("cents").over(cum_w))
    dd = run.withColumn("peak", F.max("cum").over(cum_w))
    return dd.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.max(F.col("peak") - F.col("cum")).cast("bigint").alias("max_drawdown_cents"),
    )


@register(
    "q_timeseries_seasonal",
    oracle="""
    WITH e AS (
        SELECT event_type, EXTRACT(hour FROM ts) AS hod,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    hh AS (
        SELECT event_type, CAST(hod AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM e GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS tn,
               CAST(SUM(cents) AS BIGINT) AS tc
        FROM hh GROUP BY 1
    )
    SELECT hh.event_type AS event_type, hod, n, cents,
           CAST(cents * tn * 1000000 // (tc * n) AS BIGINT) AS seasonal_e6
    FROM hh JOIN tot ON hh.event_type = tot.event_type
    """,
    tags=("D1", "H3"),
)
def q_timeseries_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal profile (hour-of-day index) per series: each
    (event_type, hour) cell's mean value relative to the series'
    overall mean, in fixed point — seasonal_e6 =
    (cents·tn)·1e6 DIV (tc·n), i.e. (cell mean / series mean)·1e6
    computed entirely on exact integer sums (the ratio-of-ratios
    rewritten as one cross-multiplied DIV, so neither mean is ever a
    float). 1e6 = flat; >1e6 = the hour runs hot — the
    classical-decomposition seasonal component a capacity planner or
    anomaly screen consumes, with n and cents kept so the consumer can
    re-weight.

    Plan: one groupBy(type, hour) shuffle to ≤ 24·|types| rows, series
    totals as a second tiny aggregate joined back (broadcast — the
    aggregated frame is bucket-count sized at any corpus scale).
    Integer headroom: cents·tn ≤ 2^63 up to ~10^9 rows per series at
    the fixture's value range; beyond that drop the e6 scale."""
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.hour("ts").cast("bigint").alias("hod"),
        cents("value").alias("cents"),
    )
    hh = e.groupBy("event_type", "hod").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    tot = hh.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("cents").cast("bigint").alias("tc"),
    )
    return hh.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hod",
        "n",
        "cents",
        F.expr("cents * tn * 1000000 DIV (tc * n)").alias("seasonal_e6"),
    )


def _holt_weights() -> list[tuple[int, int, int]]:
    """(pos, ws, wb) per input position 1..12: exact dyadic weights for
    Holt double-exponential smoothing (level + trend) with alpha = beta
    = 1/2 over exactly 12 ticks, s_1 = x_1, b_1 = 0: run the recursion
    symbolically over Fractions; every coefficient's denominator divides
    2^22, so scaling by 2^22 makes both statistics exact BIGINT linear
    combinations of the inputs (level weights sum to exactly 2^22 — a
    constant series smooths to itself). Shared by the Spark plan and the
    DuckDB oracle, so no engine ever runs the recursion."""
    from fractions import Fraction as Fr

    k = 12
    s = [Fr(0)] * k
    b = [Fr(0)] * k
    s[0] = Fr(1)
    for step in range(2, k + 1):
        x = [Fr(0)] * k
        x[step - 1] = Fr(1)
        s_new = [(xi + si + bi) / 2 for xi, si, bi in zip(x, s, b)]
        b = [(sn - si) / 2 + bi / 2 for sn, si, bi in zip(s_new, s, b)]
        s = s_new
    den = 1 << 22
    return [
        (i + 1, int(si * den), int(bi * den)) for i, (si, bi) in enumerate(zip(s, b))
    ]


_HOLT_ROWS = _holt_weights()


@register(
    "q_timeseries_holt",
    oracle=f"""
    WITH w(pos, ws, wb) AS (VALUES {_values_sql(_HOLT_ROWS)}),
    {_LAST_TICKS_SQL},
    last12 AS (SELECT event_type, cents, 13 - rn AS pos
               FROM pts WHERE rn <= 12)
    SELECT p.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(p.cents * w.ws) AS BIGINT) AS level_x2e22,
           CAST(SUM(p.cents * w.wb) AS BIGINT) AS trend_x2e22,
           CAST(SUM(p.cents * (w.ws + w.wb)) AS BIGINT) AS forecast_x2e22
    FROM last12 p JOIN w ON w.pos = p.pos
    GROUP BY p.event_type
    HAVING COUNT(*) = 12
    """,
    tags=("D10", "E1", "timeseries"),
)
def q_timeseries_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT double-exponential smoothing (level + trend) — the
    one-step-ahead FORECASTER next to q_timeseries_ewma's smoother:
    per event_type, run Holt's coupled recursion s_t = alpha*x_t +
    (1-alpha)(s_(t-1)+b_(t-1)), b_t = beta*(s_t - s_(t-1)) +
    (1-beta)*b_(t-1) over the last 12 ticks with the dyadic
    alpha = beta = 1/2, and emit level, trend and forecast = s + b.
    Same fixed-point trick as EWMA, one step harder: the COUPLED
    recursion unrolls to exact 2^22-denominator dyadic weights per
    input position (derived symbolically once in _holt_weights,
    shared verbatim with the oracle as a VALUES table), so the whole
    forecast is one BIGINT dot product — no float, no sequential
    state, any aggregation order.

    Scale: the per-type top-12 plans as WindowGroupLimit (per-
    partition prune BEFORE the shuffle, same as EWMA); the 12-row
    weight table broadcasts. The unrolling is what makes a
    sequential-looking recursion embarrassingly parallel — the
    general lesson for linear recurrences at 100 TB (same move as
    the GD trainer's closed-form iteration)."""
    ws, wb = F.col("ws"), F.col("wb")
    return _weighted_ticks(
        spark,
        sf_dir,
        _HOLT_ROWS,
        "pos INT, ws BIGINT, wb BIGINT",
        {"level_x2e22": ws, "trend_x2e22": wb, "forecast_x2e22": ws + wb},
    )


# Autocorrelation probe depth: lags 1..ACF_MAX_LAG hours. A constant —
# the lag frame is a 6-row literal at any scale.
ACF_MAX_LAG = 6


@register(
    "q_timeseries_acf",
    oracle=f"""
    WITH bars AS (
        SELECT event_type,
               CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS h,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT b.event_type, l.lag, b.h, b.cents
        FROM bars b, UNNEST(range(1, {ACF_MAX_LAG + 1})) AS l(lag)
    ),
    pairs AS (
        SELECT a.event_type, a.lag, a.cents AS x, b.cents AS y
        FROM lagged a
        JOIN bars b ON b.event_type = a.event_type AND b.h = a.h + a.lag
    ),
    {_xy_moments_sql("pairs", "event_type, lag")}
    SELECT event_type, CAST(lag AS BIGINT) AS lag,
           CAST(n AS BIGINT) AS n_pairs,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS acf
    FROM s ORDER BY event_type, lag
    """,
    tags=("D10", "timeseries", "M2"),
)
def q_timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION FUNCTION at lags 1..{ACF_MAX_LAG} hours per
    event type — the lag-structure diagnostic behind seasonality
    detection and ARIMA order selection (q_timeseries_seasonal finds a
    KNOWN period's profile; the ACF tells you WHICH lags carry signal
    — and q_timeseries_xcorr's lag-0 cross-series algebra generalized
    to own-series lags). Each lag's coefficient is the paired-subset
    Pearson correlation: all six sufficient statistics are exact
    integer sums widened to DECIMAL(38,0); floats enter only in the
    one final expression on identical operand bits (the xcorr
    discipline, per (type, lag) cell).

    Plan: ONE fact aggregate down to the (type, hour) bar domain; the
    lag expansion is a map-side 6-way explode OF THE BAR FRAME (never
    the fact table), self-equi-joined on (type, hour+lag) — bar-domain
    keyed, fact rows never join; one aggregate to type x lag rows."""
    bars = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr(
                "CAST(unix_timestamp(date_trunc('hour', ts)) AS BIGINT)"
                " DIV 3600"
            ).alias("h"),
        )
        .agg(
            F.sum(cents("value")).alias("cents")
        )
    )
    lagged = bars.select(
        "event_type",
        "h",
        "cents",
        F.explode(
            F.array(*[F.lit(i) for i in range(1, ACF_MAX_LAG + 1)])
        ).alias("lag"),
    )
    b2 = bars.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("cents").alias("y"),
    )
    pairs = lagged.join(
        b2,
        (F.col("et2") == F.col("event_type"))
        & (F.col("h2") == F.col("h") + F.col("lag")),
    ).select("event_type", "lag", F.col("cents").alias("x"), "y")
    s = moment_census(pairs, ["x", "y"], ("event_type", "lag"))
    return s.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").cast("bigint").alias("n_pairs"),
        pearson_r().alias("acf"),
    )


@register(
    "q_ts_changepoint_sse",
    oracle=f"""
    WITH {DAILY_DOLLARS_SQL},
    pre AS (
        SELECT event_type, day, y,
               CAST(SUM(y) OVER w AS DECIMAL(38,0)) AS s1,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY day) AS DECIMAL(38,0)) AS n1,
               CAST(SUM(y) OVER (PARTITION BY event_type)
                    AS DECIMAL(38,0)) AS s,
               CAST(COUNT(*) OVER (PARTITION BY event_type)
                    AS DECIMAL(38,0)) AS n
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    gains AS (
        SELECT event_type, day, n1, n - n1 AS n2,
               CAST((CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT)
                         * CAST(n - n1 AS HUGEINT)
                       + CAST(s - s1 AS HUGEINT) * CAST(s - s1 AS HUGEINT)
                         * CAST(n1 AS HUGEINT))
                    // (CAST(n1 AS HUGEINT) * CAST(n - n1 AS HUGEINT))
                    AS BIGINT) AS gain_floor
        FROM pre WHERE n1 < n
    ),
    best AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY gain_floor DESC, day) AS r
        FROM gains
    )
    SELECT event_type, day AS split_day,
           CAST(n1 AS BIGINT) AS n_left,
           CAST(n2 AS BIGINT) AS n_right,
           gain_floor
    FROM best WHERE r = 1 ORDER BY event_type
    """,
    tags=("D10", "M2", "E1"),
)
def q_ts_changepoint_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGEPOINT DETECTION by least-squares binary segmentation (the
    first split of Scott-Knott / PELT-style segmentation; public
    method, Bai 1997 single-break estimation) — the level-shift
    locator that complements q_changepoint_cusum's drift ALARM: for
    each event_type's daily-revenue series (whole dollars), find the
    split that minimizes total within-segment SSE, i.e. maximizes the
    between-segment gain s1^2/n1 + s2^2/n2 (total SS is constant in
    the split).

    Exactness: the gain is carried as the exact integer FLOOR of
    (s1^2*n2 + s2^2*n1) / (n1*n2) — numerator exact DECIMAL(38,0),
    denominator bounded by the day-count domain (<= 31*31), quotient a
    BIGINT; the argmax is over (gain_floor DESC, day ASC), so no float
    enters the location decision anywhere. SSE itself never needs to
    be materialized.

    Plan: one census to (type, day) — <= 31 rows per type at any SF —
    then two windows and one rank over that domain-bounded frame; the
    fact table is scanned once. The naive spelling recomputes two
    variances per candidate split (O(days^2) passes); prefix sums make
    every candidate's gain fall out of ONE cumulative window."""
    daily = _daily_dollars(spark, sf_dir)
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    d38 = "decimal(38,0)"
    pre = daily.select(
        "event_type",
        "day",
        F.sum("y").over(wcum).cast(d38).alias("s1"),
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .cast(d38)
        .alias("n1"),
        F.sum("y").over(wall).cast(d38).alias("s"),
        F.count("*").over(wall).cast(d38).alias("n"),
    )
    gains = pre.filter(F.col("n1") < F.col("n")).select(
        "event_type",
        "day",
        "n1",
        (F.col("n") - F.col("n1")).alias("n2"),
        F.expr(
            "CAST((s1 * s1 * (n - n1) + (s - s1) * (s - s1) * n1) "
            "div (n1 * (n - n1)) AS BIGINT)"
        ).alias("gain_floor"),
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.desc("gain_floor"), F.asc("day")
    )
    return (
        gains.withColumn("r", F.row_number().over(wbest))
        .filter(F.col("r") == 1)
        .select(
            "event_type",
            F.col("day").alias("split_day"),
            F.col("n1").cast("bigint").alias("n_left"),
            F.col("n2").cast("bigint").alias("n_right"),
            "gain_floor",
        )
    )


# Backtest split for q_ts_backtest_mase: last 7 days held out, the
# seasonal-naive forecaster has period 7 (weekly), and the MASE scale
# is the classical in-sample one-step naive MAE (Hyndman & Koehler
# 2006, public).
MASE_HORIZON = 7
MASE_PERIOD = 7


@register(
    "q_ts_backtest_mase",
    oracle=f"""
    WITH {DAILY_DOLLARS_SQL},
    r AS (
        SELECT event_type, day, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               LAG(y, {MASE_PERIOD}) OVER (PARTITION BY event_type
                                           ORDER BY day) AS y_season,
               LAG(y, 1) OVER (PARTITION BY event_type
                               ORDER BY day) AS y_prev
        FROM daily
    ),
    s AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_days,
               CAST(SUM(CASE WHEN t > n - {MASE_HORIZON}
                        THEN ABS(y - y_season) END) AS BIGINT) AS err_num,
               CAST(SUM(CASE WHEN t BETWEEN 2 AND n - {MASE_HORIZON}
                        THEN ABS(y - y_prev) END) AS BIGINT) AS scale_num,
               CAST(SUM(CASE WHEN t BETWEEN 2 AND n - {MASE_HORIZON}
                        THEN 1 ELSE 0 END) AS BIGINT) AS scale_n
        FROM r GROUP BY event_type
    )
    SELECT event_type, n_days, err_num, scale_num,
           CAST((err_num * scale_n * 1000000)
                // (CAST({MASE_HORIZON} AS BIGINT) * scale_num)
                AS BIGINT) AS mase_e6,
           err_num * scale_n < {MASE_HORIZON} * scale_num
             AS beats_naive
    FROM s ORDER BY event_type
    """,
    tags=("D10", "M2", "E2"),
)
def q_ts_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORECAST BACKTEST with MASE (Hyndman & Koehler 2006): hold out
    the last {h} days of each event_type's daily-revenue series,
    forecast them with the seasonal-naive rule y_hat(t) = y(t - {p})
    (the baseline every forecasting paper scales against), and score
    with the Mean Absolute SCALED Error — test MAE divided by the
    in-sample one-step naive MAE, the scale-free metric that lets
    series of different magnitude share one quality gate.

    Exactness: both MAEs are rationals over integer absolute
    differences of whole-dollar daily sums, so MASE = (err/h) /
    (scale/m) is reported as the exact FLOOR-e6 integer quotient
    err*m*10^6 div (h*scale), and the 'beats naive' gate (MASE < 1)
    is the cross-multiplied integer comparison err*m < h*scale — no
    float in the metric or the verdict.

    Plan: one census to (type, day); two LAG windows + one conditional
    fold over the <= 31-row-per-type frame. Fact scanned once. This is
    the evaluation harness the Holt trainer (q_timeseries_holt) plugs
    into: any forecaster that emits y_hat joins the same scoring
    frame.""".format(h=MASE_HORIZON, p=MASE_PERIOD)
    daily = _daily_dollars(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("day")
    wall = Window.partitionBy("event_type")
    r = daily.select(
        "event_type",
        "y",
        F.row_number().over(wo).alias("t"),
        F.count("*").over(wall).alias("n"),
        F.lag("y", MASE_PERIOD).over(wo).alias("y_season"),
        F.lag("y", 1).over(wo).alias("y_prev"),
    )
    h = MASE_HORIZON
    s = r.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_days"),
        F.sum(
            F.when(
                F.col("t") > F.col("n") - h,
                F.abs(F.col("y") - F.col("y_season")),
            )
        )
        .cast("bigint")
        .alias("err_num"),
        F.sum(
            F.when(
                (F.col("t") >= 2) & (F.col("t") <= F.col("n") - h),
                F.abs(F.col("y") - F.col("y_prev")),
            )
        )
        .cast("bigint")
        .alias("scale_num"),
        F.sum(
            F.when(
                (F.col("t") >= 2) & (F.col("t") <= F.col("n") - h), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("scale_n"),
    )
    return s.select(
        "event_type",
        "n_days",
        "err_num",
        "scale_num",
        F.expr(
            f"(err_num * scale_n * 1000000) div "
            f"(CAST({h} AS BIGINT) * scale_num)"
        )
        .cast("bigint")
        .alias("mase_e6"),
        (
            F.col("err_num") * F.col("scale_n")
            < F.lit(h) * F.col("scale_num")
        ).alias("beats_naive"),
    )


def _hw_weights() -> tuple[list, list, dict, int]:
    """Exact dyadic weights for additive HOLT-WINTERS (level + trend +
    m=4 seasonal) with alpha = beta = gamma = 1/2 over exactly 16
    ticks: the q_timeseries_holt unrolling one component harder. Init
    after the first season (positions 1..4): s = their mean, b = 0,
    c_i = x_i - s; recursion runs t = 5..16. Every coefficient's
    denominator divides 2^24 (mean-of-4 contributes 2^2, twelve
    halving steps the rest), so scaling by 2^24 makes level, trend,
    all four seasonal states and every h-step forecast
    f_h = s + h*b + c_slot(h) exact BIGINT linear combinations of the
    inputs. Level weights sum to exactly 2^24 and trend/seasonal
    weights to 0 (a constant series forecasts itself flat) — pinned
    in the pytest twin. Shared by the Spark plan and the DuckDB
    oracle, so no engine ever runs the recursion."""
    from fractions import Fraction as Fr

    k, m = 16, 4

    def unit(i):
        v = [Fr(0)] * k
        v[i] = Fr(1)
        return v

    def comb(a, b, fa, fb):
        return [fa * x + fb * y for x, y in zip(a, b)]

    s = [Fr(1, m) if i < m else Fr(0) for i in range(k)]
    b = [Fr(0)] * k
    c = {i: comb(unit(i), s, Fr(1), Fr(-1)) for i in range(m)}
    for t in range(m, k):
        x = unit(t)
        cm = c[t % m]
        s_new = comb(
            comb(x, cm, Fr(1, 2), Fr(-1, 2)), comb(s, b, Fr(1), Fr(1)),
            Fr(1), Fr(1, 2),
        )
        b_new = comb(
            comb(s_new, s, Fr(1, 2), Fr(-1, 2)), b, Fr(1), Fr(1, 2)
        )
        c[t % m] = comb(
            comb(x, s_new, Fr(1, 2), Fr(-1, 2)), cm, Fr(1), Fr(1, 2)
        )
        s, b = s_new, b_new
    den = 1 << 24
    ws = [int(f * den) for f in s]
    wb = [int(f * den) for f in b]
    wc = {slot: [int(f * den) for f in v] for slot, v in c.items()}
    return ws, wb, wc, den


_HW_WS, _HW_WB, _HW_WC, _HW_DEN = _hw_weights()
# (pos, ws, wb, wf1..wf4) per position; forecast weights f_h = s + h*b + c[(h-1) % 4]
_HW_ROWS = [
    (i + 1, ws, wb, *(ws + h * wb + _HW_WC[(h - 1) % 4][i] for h in (1, 2, 3, 4)))
    for i, (ws, wb) in enumerate(zip(_HW_WS, _HW_WB))
]


@register(
    "q_timeseries_holt_winters",
    oracle=f"""
    WITH w(pos, ws, wb, wf1, wf2, wf3, wf4) AS (VALUES {_values_sql(_HW_ROWS)}),
    {_LAST_TICKS_SQL},
    last16 AS (SELECT event_type, cents, 17 - rn AS pos
               FROM pts WHERE rn <= 16)
    SELECT p.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(p.cents * w.ws) AS BIGINT) AS level_x2e24,
           CAST(SUM(p.cents * w.wb) AS BIGINT) AS trend_x2e24,
           CAST(SUM(p.cents * w.wf1) AS BIGINT) AS f1_x2e24,
           CAST(SUM(p.cents * w.wf2) AS BIGINT) AS f2_x2e24,
           CAST(SUM(p.cents * w.wf3) AS BIGINT) AS f3_x2e24,
           CAST(SUM(p.cents * w.wf4) AS BIGINT) AS f4_x2e24
    FROM last16 p JOIN w ON w.pos = p.pos
    GROUP BY p.event_type
    HAVING COUNT(*) = 16
    """,
    tags=("D10", "E1", "timeseries"),
)
def q_timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOLT-WINTERS additive seasonal smoothing — the forecaster that
    completes the D10 family ladder EWMA (level) -> Holt (level +
    trend) -> Holt-Winters (level + trend + season): per event_type,
    run the triple coupled recursion s_t = alpha*(x_t - c_(t-m)) +
    (1-alpha)(s_(t-1)+b_(t-1)), b_t = beta*(s_t-s_(t-1)) +
    (1-beta)*b_(t-1), c_t = gamma*(x_t-s_t) + (1-gamma)*c_(t-m) with
    dyadic alpha = beta = gamma = 1/2 and season length m = 4 over
    the last 16 ticks, and emit level, trend and the full next-season
    forecast fan f_h = s + h*b + c_slot(h), h = 1..4.

    Same fixed-point move as Holt, one component harder: the triple
    recursion unrolls symbolically (once, in _hw_weights, over exact
    Fractions) to 2^24-denominator dyadic weights per input position,
    shared VERBATIM with the oracle as a VALUES table — the whole
    seasonal forecast is six BIGINT dot products, no float, no
    sequential state, any aggregation order. The twin pins the
    identities (level weights sum to 2^24; trend and every seasonal
    weight vector to 0) and replays the FLOAT recursion on random
    series against the weights to 1e-9.

    Scale: identical shape to q_timeseries_holt — the per-type top-16
    plans as WindowGroupLimit (per-partition prune BEFORE the
    shuffle); the 16-row weight table broadcasts; the unrolling is
    what makes a sequential-looking LINEAR recurrence embarrassingly
    parallel at 100 TB (seasonality adds state width m, not
    sequential depth)."""
    cols = ("ws", "wb", "wf1", "wf2", "wf3", "wf4")
    names = ("level", "trend", "f1", "f2", "f3", "f4")
    return _weighted_ticks(
        spark,
        sf_dir,
        _HW_ROWS,
        "pos INT, " + ", ".join(f"{c} BIGINT" for c in cols),
        {f"{n}_x2e24": F.col(c) for c, n in zip(cols, names)},
    )


@register(
    "q_timeseries_decompose",
    oracle=f"""
    WITH {_daily_sql("v")},
    seq AS (
        SELECT g, d, v,
               CAST(d - DATE '1970-01-01' AS BIGINT) % 7 AS dow,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(SUM(v) OVER (PARTITION BY g ORDER BY d
                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT)
                 AS trend_x7
        FROM daily
    ),
    detr AS (
        SELECT g, dow, 7 * v - trend_x7 AS detr_x7
        FROM seq WHERE rn >= 4 AND rn <= n - 3
    )
    SELECT g AS event_type, CAST(dow AS BIGINT) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_obs,
           CAST(SUM(detr_x7) AS BIGINT) AS seasonal_sum_x7,
           CAST(MIN(detr_x7) AS BIGINT) AS min_detr_x7,
           CAST(MAX(detr_x7) AS BIGINT) AS max_detr_x7
    FROM detr
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("D10", "E2", "timeseries"),
)
def q_timeseries_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASSICAL ADDITIVE SEASONAL DECOMPOSITION (the moving-average
    X-11 ancestor) — the DIAGNOSTIC counterpart to
    q_timeseries_holt_winters's forecaster: per event_type daily
    series, trend = centered 7-day moving average over the observed
    day sequence, detrended = value - trend, and the weekly seasonal
    profile = the detrended values aggregated by day-of-week slot.
    This is the decomposition an analyst runs BEFORE choosing m for
    Holt-Winters.

    Exactness: no division anywhere — the trend rides as the exact
    7-day window SUM (trend_x7), detrended as the exact integer
    7*v - trend_x7, and each weekday slot reports its exact SUM, min,
    max and count (the consumer divides; the engine never does).
    Day-of-week is epoch-day mod 7 computed ARITHMETICALLY because
    the engines' dayofweek() builtins disagree on week origin (Spark
    1=Sunday..7 vs DuckDB 0=Sunday..6) — a portability trap this
    spelling sidesteps. Edge rows without a full centered window
    (first/last 3 per series) are excluded by rank in both engines.

    Plan at 100 TB: the fact table collapses to one map-side-combined
    (type, day) census (calendar-bounded, ~30 rows/series at any sf);
    the centered MA is ONE ROWS-framed window over that tiny frame and
    the seasonal profile one more bounded groupBy — 100x more events
    never changes a post-census row count."""
    daily = daily_census(spark, sf_dir, F.sum("cents").cast("bigint").alias("v"))
    wseq = Window.partitionBy("event_type").orderBy("day")
    wma = wseq.rowsBetween(-3, 3)
    wall = Window.partitionBy("event_type")
    seq = daily.select(
        "event_type",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast(
                "bigint"
            )
            % 7
        ).alias("dow"),
        "v",
        F.row_number().over(wseq).alias("rn"),
        F.count("*").over(wall).cast("bigint").alias("n"),
        F.sum("v").over(wma).cast("bigint").alias("trend_x7"),
    )
    detr = seq.filter(
        (F.col("rn") >= 4) & (F.col("rn") <= F.col("n") - 3)
    ).select("event_type", "dow", (7 * F.col("v") - F.col("trend_x7")).alias("detr_x7"))
    return detr.groupBy("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_obs"),
        F.sum("detr_x7").cast("bigint").alias("seasonal_sum_x7"),
        F.min("detr_x7").cast("bigint").alias("min_detr_x7"),
        F.max("detr_x7").cast("bigint").alias("max_detr_x7"),
    )


@register(
    "q_timeseries_croston",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d,
               CAST(COUNT(*) FILTER (
                   WHERE CAST(ROUND(value * 100, 0) AS BIGINT) % 20 = 0
               ) AS BIGINT) AS z
        FROM events GROUP BY 1, 2
    ),
    nz AS (
        SELECT event_type, d, z,
               CAST(d - LAG(d) OVER (PARTITION BY event_type ORDER BY d)
                    AS BIGINT) AS gap,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY d DESC) AS rn
        FROM daily WHERE z > 0
    ),
    win AS (
        SELECT event_type, z, gap, rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM nz WHERE rn <= 12 AND gap IS NOT NULL
    ),
    dot AS (
        SELECT event_type, MAX(n) AS n,
               CAST(SUM(z * (CASE WHEN n - rn + 1 = 1 THEN 1
                    ELSE (CAST(1 AS BIGINT) << (n - rn - 1)) END))
                    AS BIGINT) AS z_num,
               CAST(SUM(gap * (CASE WHEN n - rn + 1 = 1 THEN 1
                    ELSE (CAST(1 AS BIGINT) << (n - rn - 1)) END))
                    AS BIGINT) AS p_num
        FROM win GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_demands,
           z_num, p_num,
           CAST((z_num * 1000000) // p_num AS BIGINT) AS rate_e6,
           CAST((z_num * 750000) // p_num AS BIGINT) AS sba_rate_e6
    FROM dot WHERE n >= 2
    ORDER BY event_type
    """,
    tags=("D10", "timeseries"),
)
def q_timeseries_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSTON'S METHOD (1972) — the forecaster for INTERMITTENT
    demand, the regime where Holt/EWMA systematically under-forecast:
    a series that is mostly zeros with occasional positive spikes
    (spare parts, long-tail SKUs, rare-event telemetry) must be
    smoothed as TWO series — the nonzero demand SIZES z_i and the
    INTER-DEMAND intervals p_i — with the demand rate forecast
    z_hat/p_hat; plus the Syntetos-Boylan approximation (SBA 2005),
    the (1 - alpha/2) = 3/4 bias correction of Croston's ratio.
    Demand here = the day's count of twenty-cent-multiple events
    (cents % 20 = 0, ~5% of events), which produces genuine
    zero-gapped days at small/mid sf; as density grows every day goes
    nonzero, gaps -> 1 and Croston degrades gracefully to plain SES —
    exactly its real-world behavior on dense series (stated).

    Exactness — the q_timeseries_holt unrolling discipline with a
    VARIABLE-length window: SES with dyadic alpha = 1/2 over the last
    n <= 12 (size, gap) pairs unrolls to weights w_1 = 1,
    w_p = 2^(p-2) (oldest-first positions; integer shiftleft, no
    POWER double), denominator 2^(n-1); the two dot products z_num,
    p_num are exact BIGINTs and the DENOMINATORS CANCEL in the ratio
    — rate_e6 = z_num*1e6 div p_num needs no 2^(n-1) at all (both
    operands non-negative, no floor-sign hazard). The oldest retained
    point is the lag-anchor (rn <= 12 with a non-null LAG gap —
    window 13 loses its head to the differencing, stated identically
    both engines); series with n < 2 are dropped.

    Plan at 100 TB: one (type, day) census off the fact scan
    (map-side combined, calendar-bounded), one LAG + one top-13
    window over the ~30-row-per-type nonzero frame (WindowGroupLimit
    prunes before the shuffle), one 5-row dot-product aggregate."""
    z = F.sum(F.when(F.col("cents") % 20 == 0, 1).otherwise(0)).cast("bigint")
    daily = daily_census(spark, sf_dir, z.alias("z"))
    wlag = Window.partitionBy("event_type").orderBy("day")
    wdesc = Window.partitionBy("event_type").orderBy(F.desc("day"))
    nz = (
        daily.filter(F.col("z") > 0)
        .select(
            "event_type",
            "day",
            "z",
            F.datediff(F.col("day"), F.lag("day").over(wlag))
            .cast("bigint")
            .alias("gap"),
        )
        .withColumn("rn", F.row_number().over(wdesc))
    )
    win = nz.filter(
        (F.col("rn") <= 12) & F.col("gap").isNotNull()
    ).withColumn(
        "n",
        F.count("*").over(Window.partitionBy("event_type")).cast("bigint"),
    )
    wexpr = (
        "(CASE WHEN n - rn + 1 = 1 THEN CAST(1 AS BIGINT)"
        " ELSE shiftleft(CAST(1 AS BIGINT), CAST(n - rn - 1 AS INT))"
        " END)"
    )
    dot = win.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_demands"),
        F.sum(F.expr(f"z * {wexpr}")).cast("bigint").alias("z_num"),
        F.sum(F.expr(f"gap * {wexpr}")).cast("bigint").alias("p_num"),
    )
    return (
        dot.filter(F.col("n_demands") >= 2)
        .select(
            "event_type",
            "n_demands",
            "z_num",
            "p_num",
            F.expr("(z_num * 1000000) div p_num")
            .cast("bigint")
            .alias("rate_e6"),
            F.expr("(z_num * 750000) div p_num")
            .cast("bigint")
            .alias("sba_rate_e6"),
        )
    )
