"""pandas-on-Spark API coverage (SURVEY §7 later-rounds item).

PySpark ships the pandas API (``pyspark.pandas``) as a first-class
shim: a ps.DataFrame is a THIN WRAPPER over a Spark plan — groupby/
agg/merge/sort compile to the same Catalyst operators the DataFrame
API emits, so pandas-habituated users pay no execution penalty for
the familiar surface. These queries prove that claim the strong way:
each runs through the pandas API end to end and must hash-match the
same ANSI-SQL DuckDB oracle as any native query.

Scale notes: ``DataFrame.pandas_api()`` adds NO data movement (it
reuses the underlying plan; the "distributed-sequence" default index
is never materialized here because we only use to_spark() outputs
without index). sort_values/head compiles to a global sort + limit —
Spark plans that as TakeOrderedAndProject, the O(n) top-k physical
operator, not a full sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import register
from .sources.tables import cents, t


@register(
    "q_ps_groupby",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           ROUND((SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                  / 100.0) / COUNT(*), 6) AS avg_price,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("API", "D1"),
)
def q_ps_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-q1-style pricing summary written in pandas idiom
    (groupby + named agg + reset_index) via pyspark.pandas. The plan
    Catalyst sees is the same partial+final hash aggregate as the
    native q_agg_basic. avg_price runs on BIGINT cents (the repo's
    _cents fixed-point trick): a double SUM's partial ordering differs
    per engine and can land on opposite sides of the ROUND boundary
    (round-4 ADVICE item 3); sum_qty is safe as-is because l_quantity
    is integral."""
    psdf = t(spark, sf_dir, "lineitem").pandas_api()
    psdf["price_c"] = (psdf["l_extendedprice"] * 100).round(0).astype("int64")
    g = (
        psdf.groupby(["l_returnflag", "l_linestatus"])
        .agg(
            sum_qty=("l_quantity", "sum"),
            sum_price_c=("price_c", "sum"),
            n=("l_orderkey", "count"),
        )
        .reset_index()
    )
    return g.to_spark().select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.round((F.col("sum_price_c") / F.lit(100.0)) / F.col("n"), 6).alias(
            "avg_price"
        ),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "q_ps_pipeline",
    oracle="""
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) / 100.0
               AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY c.c_mktsegment
    ORDER BY revenue DESC, c_mktsegment
    LIMIT 3
    """,
    tags=("API", "C1", "F2"),
)
def q_ps_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """merge + boolean-mask filter + groupby + sort_values + head —
    the everyday pandas analysis loop — run distributed. head-after-
    sort compiles to Spark's TakeOrderedAndProject (O(n) top-k) and
    the merge is a plain equi-join Catalyst can broadcast. One honest
    caveat (pinned in tests/test_plans.py): the boolean mask keeps
    pandas NaN semantics, which wraps the predicate in CASE WHEN
    null-checks Catalyst cannot push into the parquet scan — the
    filter still runs JVM-side right above the scan, but loses I/O
    pruning; a pushdown-critical filter belongs in native DataFrame
    code before .pandas_api(). Revenue sums on BIGINT cents (_cents
    fixed-point trick): ROUND(SUM(double), 4) can straddle a rounding
    boundary across engines' partial-sum orders (round-4 ADVICE item
    3); the integer sum is order-independent and cents/100.0 is the
    same double everywhere."""
    orders = t(spark, sf_dir, "orders").pandas_api()
    cust = t(spark, sf_dir, "customer").pandas_api()
    m = orders[orders["o_orderstatus"] == "F"].merge(
        cust, left_on="o_custkey", right_on="c_custkey"
    )
    m["price_c"] = (m["o_totalprice"] * 100).round(0).astype("int64")
    g = (
        m.groupby("c_mktsegment")
        .agg(n_orders=("o_orderkey", "count"), revenue_c=("price_c", "sum"))
        .reset_index()
        .sort_values(["revenue_c", "c_mktsegment"], ascending=[False, True])
        .head(3)
    )
    return g.to_spark().select(
        "c_mktsegment",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        (F.col("revenue_c") / F.lit(100.0)).alias("revenue"),
    )


@register(
    "q_ps_cumsum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
               AS cum_spend
    FROM orders
    """,
    tags=("API", "E3"),
)
def q_ps_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer running spend in pandas idiom: sort_values +
    groupby().cumsum() — the pandas spelling of a partitioned running-
    sum window. Compiles to the same Window (rows unbounded-preceding)
    plan the native E3 queries use, and because BOTH engines accumulate
    in the same (o_custkey, o_orderkey) order, the float running sums
    are bit-identical — rounded only for exposure."""
    o = t(spark, sf_dir, "orders").pandas_api()
    ps = o.sort_values(["o_custkey", "o_orderkey"])
    ps["cum_spend"] = ps.groupby("o_custkey")["o_totalprice"].cumsum()
    out = ps[["o_orderkey", "o_custkey", "cum_spend"]].to_spark()
    return out.select(
        "o_orderkey", "o_custkey", F.round("cum_spend", 4).alias("cum_spend")
    )


@register(
    "q_ps_rolling",
    oracle="""
    WITH e AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type, event_id,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY event_id) >= 3
                THEN SUM(cents) OVER (PARTITION BY event_type
                                      ORDER BY event_id
                                      ROWS BETWEEN 2 PRECEDING
                                            AND CURRENT ROW)
           END AS roll_cents
    FROM e
    """,
    tags=("API", "E3"),
)
def q_ps_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-window aggregation in pandas idiom:
    ``groupby('event_type')['cents'].rolling(3).sum()`` — the pandas
    spelling of a partitioned ROWS-frame window, with pandas'
    min_periods semantics (the first window-1 rows of each group are
    NULL, where SQL's frame would emit a partial sum — the oracle
    reproduces pandas' convention with a row_number guard, pinning the
    semantic difference explicitly). Integer cents keep the rolling
    sums exact in any order. Compiles to the same single-sort Window
    plan as the native E3 queries — the pandas surface is free at any
    scale as long as the frame is ROWS-bounded (state O(window), the
    q_window_rolling_median argument)."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    ps = e.pandas_api(index_col="event_id").sort_index()
    out = (
        ps.groupby("event_type")["cents"]
        .rolling(3)
        .sum()
        .reset_index()
        .to_spark()
    )
    return out.select(
        "event_type",
        "event_id",
        F.col("cents").cast("bigint").alias("roll_cents"),
    )
