"""Composite analytical queries (TPC-H-shaped) — integration-level
proof that the operator families compose: multi-join star queries,
filtered aggregates, and ordered reports in one lazy plan each.

These mirror classic TPC-H Q1/Q3/Q5/Q10 shapes adapted to the fixture
schema (FIXTURES.md; no o_shippriority/l_shipmode etc. — columns that
don't exist are dropped, predicates keep the original selectivity
shape). Scale notes per query in the docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_tpch_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("composite", "D1", "B2"),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: single scan → filter → 8-way hash agg.
    Scale: pure two-phase agg, 6 output rows; the scan dominates and
    the date predicate reaches the parquet row groups."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("2001-09-02").cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_tpch_q3",
    oracle="""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           CAST(o.o_orderdate AS DATE) AS odate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-03-15'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-03-15'
    GROUP BY l.l_orderkey, odate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("composite", "C1", "F2"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: 3-way join, agg, top-10.
    Scale: customer filter first (segment selectivity ~1/5), orders
    filtered before the lineitem join, TakeOrderedAndProject caps the
    result — no global sort materializes."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < F.lit("1998-03-15").cast("date")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > F.lit("1998-03-15").cast("date")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("odate"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "odate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q_tpch_q5",
    oracle="""
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("composite", "C2",),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier revenue: 6-table star join.
    Scale: nation/region broadcast (fixed size), supplier broadcast at
    this sf; the c_nationkey = s_nationkey condition rides the supplier
    join, so only fact-fact joins shuffle."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01").cast("date"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@register(
    "q_tpch_q6",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
           / 10000.0 AS revenue,
           COUNT(*) AS n
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    tags=("composite", "B2", "D2"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast-revenue change: pure scan-filter-sum, no join.
    Scale: the canonical pushdown showcase — all three predicates reach
    the parquet scan, the agg is a two-phase global sum of a fixed-width
    integer; the whole query is one codegen span over the scan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
            & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            (F.sum(cents("l_extendedprice") * cents("l_discount")) / F.lit(10000.0)).alias(
                "revenue"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_tpch_q14",
    oracle="""
    WITH j AS (
        SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS rev,
               p_type
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-09-01'
          AND CAST(l.l_shipdate AS DATE) < DATE '1997-10-01'
    )
    SELECT ROUND(100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN rev ELSE 0 END) AS BIGINT)
                 / CAST(SUM(rev) AS BIGINT), 6) AS promo_revenue_pct
    FROM j
    """,
    tags=("composite", "C2", "D3"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: one-month lineitem ⋈ part, conditional
    ratio aggregate. Scale: part is the broadcast side (dim), the month
    predicate prunes the fact scan, and the ratio divides two exact
    integer sums — deterministic across engines."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-09-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-10-01").cast("date"))
    )
    p = F.broadcast(t(spark, sf_dir, "part").select("p_partkey", "p_type"))
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select(rev.alias("rev"), "p_type")
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), F.col("rev")).otherwise(F.lit(0)))
                / F.sum("rev"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
        SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS odate, o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("composite", "D1", "F2"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: agg-HAVING feeding a join, top-20.
    Scale: the HAVING filter runs on the aggregated (small) side before
    any join — orders/customer join only the surviving keys; quantities
    are integer-valued doubles, so the grouped sums are exact.
    TakeOrderedAndProject caps the output without a global sort."""
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q_tpch_q19",
    oracle="""
    SELECT COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))) AS BIGINT)
           / 10000.0 AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 24
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("composite", "C1", "B2"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue, disjunctive predicates: equi-join on
    partkey with an OR-of-ANDs residual filter. Scale: Catalyst keeps
    the equi-join key (hash join, part broadcast) and applies the
    disjunction as a post-join filter; the common p_size/l_quantity
    lower bounds could be factored for extra pushdown, but the join key
    is what matters at 100×."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size"))
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 24)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    rev = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            F.count("*").alias("n"),
            (F.sum(rev) / F.lit(10000.0)).alias("revenue"),
        )
    )


@register(
    "q_tpch_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
           ROUND(c.c_acctbal, 6) AS acctbal,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("composite", "C1", "F2"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: join, filtered quarter, top-20
    customers by lost revenue."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey", "c_name", F.round("c_acctbal", 6).alias("acctbal"), "n_name"
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )
