"""TPC-H completion — the 14 query shapes not yet in plans/tpch.py,
adapted to the fixture schema (FIXTURES.md).

With these, all 22 classic TPC-H query *shapes* are registered:
Q1/Q3/Q5/Q6/Q10/Q14/Q18/Q19 live in plans/tpch.py; this module adds
Q2, Q4, Q7, Q8, Q9, Q11, Q12, Q13, Q15, Q16, Q17, Q20, Q21, Q22.

The fixture has no ``partsupp`` table and no ``l_shipmode`` /
``l_commitdate`` / ``l_receiptdate`` / ``c_phone`` columns, so the
affected queries keep the original's *plan shape* (the part Catalyst
has to get right — correlated scalar subqueries, EXISTS/NOT-EXISTS
pairs, count-of-counts outer joins, scalar-MAX filters, NOT IN
anti-joins) with adapted predicates:

  * part–supplier pairs come from ``SELECT DISTINCT l_partkey,
    l_suppkey FROM lineitem`` instead of partsupp (Q2/Q16/Q20);
  * "late" is ``l_shipdate > o_orderdate + 60 days`` instead of
    receipt-vs-commit (Q4/Q21);
  * supply cost is ``p_retailprice`` instead of ps_supplycost (Q9);
  * Q12 groups by ``l_returnflag`` instead of l_shipmode; Q22 groups
    by ``c_nationkey`` instead of phone country code.

Determinism rules (round-1 lesson, see plans/tpch.py): money sums run
on BIGINT cents; averages compared as integer cross-products
(``5*qty*n < sum`` instead of ``qty < 0.2*avg``); counts are BIGINT on
both engines; DuckDB HUGEINT sums are CAST to BIGINT before exposure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import local_df
from ..registry import register
from ..sources.tables import cents, cents_sql, t


def _qty(colname: str = "l_quantity"):
    """Lineitem quantities are integer-valued doubles (verified in
    FIXTURES.md) — exact as BIGINT."""
    return F.round(F.col(colname), 0).cast("bigint")


@register(
    "q_tpch_q2",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    cand AS (
        SELECT ps.l_partkey, s.s_name, s.s_acctbal, n.n_name
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE')
    SELECT p.p_partkey, p.p_name, c.s_name,
           ROUND(c.s_acctbal, 6) AS acctbal, c.n_name
    FROM part p JOIN cand c ON c.l_partkey = p.p_partkey
    WHERE p.p_size = 15 AND p.p_type = 'SMALL'
      AND c.s_acctbal = (SELECT MIN(c2.s_acctbal) FROM cand c2
                         WHERE c2.l_partkey = p.p_partkey)
    """,
    tags=("composite", "C1", "D2"),
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: correlated scalar-MIN subquery per
    part over the region-filtered part↔supplier relationship.
    Spark side is the decorrelated plan Catalyst would produce anyway:
    per-part MIN as a groupBy, then an equality join back — no
    per-row subquery execution. Scale: the pair set and supplier dim
    broadcast; equality on *stored* doubles (no arithmetic) is exact."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE"))
    cand = (
        ps.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .select("l_partkey", "s_name", "s_acctbal", "n_name")
    )
    minbal = cand.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    )
    return (
        p.join(cand, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            minbal.withColumnRenamed("l_partkey", "mb_partkey"),
            (F.col("mb_partkey") == F.col("p_partkey"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round("s_acctbal", 6).alias("acctbal"),
            "n_name",
        )
    )


@register(
    "q_tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND CAST(l.l_shipdate AS DATE)
                        > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY o.o_orderpriority
    """,
    tags=("composite", "C4", "D1"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking: correlated EXISTS with an
    inequality on the outer row ("any line shipped >60 days after the
    order date"), counted per priority. Spark: LEFT SEMI join whose
    condition mixes the equi key with the correlated date predicate —
    the semi join stops at first match, no fanout, no dedup needed."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    li = t(spark, sf_dir, "lineitem")
    sel = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (
            F.col("l_shipdate").cast("date")
            > F.date_add(F.col("o_orderdate").cast("date"), 60)
        ),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count("*").alias("order_count"))


def _supplier_nations(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(supplier, its broadcast nation names as (s_nk, supp_nation)):
    the supplier side every nation-pair query (q7, q8) joins."""
    s = t(spark, sf_dir, "supplier")
    n1 = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        )
    )
    return s, n1


@register(
    "q_tpch_q7",
    oracle="""
    WITH flat AS (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
               CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)) AS rev_e4
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND CAST(l.l_shipdate AS DATE)
              BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(rev_e4) AS BIGINT) / 10000.0 AS revenue
    FROM flat GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("composite", "C1", "C2"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations, by direction and year.
    The nation dim joins twice (supplier side and customer side) under
    different roles — both broadcast. The disjunctive nation-pair
    predicate sits above the joins; year comes from the fact's
    shipdate. Revenue on exact cents."""
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate")
        .cast("date")
        .between(F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date"))
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s, n1 = _supplier_nations(spark, sf_dir)
    n2 = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    rev_e4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n1, F.col("s_nk") == F.col("s_nationkey"))
        .join(n2, F.col("c_nk") == F.col("c_nationkey"))
        .filter(pair)
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
            rev_e4.alias("rev_e4"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((F.sum("rev_e4") / F.lit(10000.0)).alias("revenue"))
    )


@register(
    "q_tpch_q8",
    oracle="""
    WITH flat AS (
        SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT)) AS rev_e4,
               n1.n_name AS supp_nation
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation nc ON nc.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = nc.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
          AND CAST(o.o_orderdate AS DATE)
              BETWEEN DATE '1996-01-01' AND DATE '1997-12-31')
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_1'
                               THEN rev_e4 ELSE 0 END) AS BIGINT)
                 / CAST(SUM(rev_e4) AS BIGINT), 6) AS mkt_share
    FROM flat GROUP BY o_year
    """,
    tags=("composite", "C2", "D3"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: one nation's fraction of regional
    revenue for one part type, per year. The ratio divides two exact
    integer sums, so the only floating op is the final division —
    bit-identical across engines."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    )
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate")
        .cast("date")
        .between(F.lit("1996-01-01").cast("date"), F.lit("1997-12-31").cast("date"))
    )
    c = t(spark, sf_dir, "customer")
    nc = F.broadcast(
        t(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
        )
    )
    r = F.broadcast(t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA"))
    s, n1 = _supplier_nations(spark, sf_dir)
    rev_e4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    flat = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(nc, F.col("c_nk") == F.col("c_nationkey"))
        .join(r, F.col("r_regionkey") == F.col("c_rk"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n1, F.col("s_nk") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            rev_e4.alias("rev_e4"),
            "supp_nation",
        )
    )
    return flat.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_1", F.col("rev_e4")).otherwise(
                    F.lit(0)
                )
            )
            / F.sum("rev_e4"),
            6,
        ).alias("mkt_share")
    )


@register(
    "q_tpch_q9",
    oracle="""
    WITH flat AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
               CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100, 0) AS BIGINT))
               - CAST(ROUND(p.p_retailprice * 100, 0) AS BIGINT)
                 * CAST(ROUND(l.l_quantity, 0) AS BIGINT) * 100 AS profit_e4
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE p.p_name LIKE '%widget%')
    SELECT nation, o_year,
           CAST(SUM(profit_e4) AS BIGINT) / 10000.0 AS sum_profit
    FROM flat GROUP BY nation, o_year
    """,
    tags=("composite", "C1", "D1"),
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit by supplier nation and order year.
    Adapted: the fixture has no partsupp.ps_supplycost, so unit cost is
    p_retailprice (same plan shape: fact joins part+supplier+orders,
    profit = revenue − cost·qty). All arithmetic in 1e-4-dollar ints."""
    li = t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = t(spark, sf_dir, "supplier")
    o = t(spark, sf_dir, "orders")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    profit_e4 = cents("l_extendedprice") * (
        F.lit(100) - cents("l_discount")
    ) - cents("p_retailprice") * _qty() * F.lit(100)
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            profit_e4.alias("profit_e4"),
        )
        .groupBy("nation", "o_year")
        .agg((F.sum("profit_e4") / F.lit(10000.0)).alias("sum_profit"))
    )


@register(
    "q_tpch_q11",
    oracle="""
    WITH nv AS (
        SELECT n.n_name,
               SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT)) AS value_c
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY n.n_name)
    SELECT n_name, CAST(value_c AS BIGINT) / 100.0 AS value
    FROM nv
    WHERE 20 * value_c > (SELECT SUM(CAST(ROUND(l2.l_extendedprice * 100, 0)
                                          AS BIGINT))
                          FROM lineitem l2)
    """,
    tags=("composite", "D1", "D2"),
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important-stock concentration: groups whose value exceeds a
    fraction of the GLOBAL total — an aggregate filtered by a scalar
    subquery over the same fact. Adapted to supplier-nation shipped
    value (no partsupp). Spark: the global total is a 1-row agg,
    broadcast-cross-joined into the HAVING predicate; the threshold
    compares exact integers (20·group > total ⟺ group > 5%)."""
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    nv = (
        li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(cents("l_extendedprice")).alias("value_c"))
    )
    total = li.agg(F.sum(cents("l_extendedprice")).alias("total_c"))
    return (
        nv.crossJoin(F.broadcast(total))
        .filter(F.lit(20) * F.col("value_c") > F.col("total_c"))
        .select("n_name", (F.col("value_c") / F.lit(100.0)).alias("value"))
    )


@register(
    "q_tpch_q12",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY l.l_returnflag
    """,
    tags=("composite", "C1", "D3"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-priority split: join + complementary conditional
    counts. Adapted: groups by l_returnflag (no l_shipmode column);
    the high/low CASE pair over o_orderpriority is verbatim."""
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "q_tpch_q13",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                           AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM co GROUP BY c_count
    """,
    tags=("composite", "C3", "D1"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: LEFT OUTER join with a
    join-time residual predicate (NOT a post-filter — customers whose
    only orders are urgent must still appear with count 0), then a
    count-of-counts histogram. COUNT(col) counts non-null join matches
    on both engines."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    co = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register(
    "q_tpch_q15",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                   * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
               AS total_e4
        FROM lineitem
        WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_e4 AS BIGINT) / 10000.0 AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total_e4 = (SELECT MAX(total_e4) FROM rev)
    """,
    tags=("composite", "D1", "F2"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: revenue "view" reused twice — once grouped,
    once for its scalar MAX — keeping every supplier tied for the max
    (the reason Q15 is not a LIMIT 1). Exact integer revenue makes the
    tie test deterministic. Spark: 1-row MAX agg broadcast into an
    equality join against the same cached aggregate."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-04-01").cast("date"))
    )
    rev_e4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_e4).alias("total_e4"))
    mx = rev.agg(F.max("total_e4").alias("mx"))
    s = t(spark, sf_dir, "supplier")
    return (
        s.join(rev, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(mx), F.col("total_e4") == F.col("mx"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("total_e4") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@register(
    "q_tpch_q16",
    oracle="""
    WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
      AND ps.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                               WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("composite", "C5", "D4"),
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship count: NOT IN (anti-join against
    a filtered dim) + COUNT DISTINCT per part attribute triple.
    Adapted: the pair set comes from lineitem (no partsupp); the
    excluded suppliers are the negative-balance ones (no s_comment)."""
    li = t(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    bad = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    p = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    return (
        ps.join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_tpch_q17",
    oracle="""
    WITH pa AS (
        SELECT l_partkey,
               SUM(CAST(ROUND(l_quantity, 0) AS BIGINT)) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) / 100.0 / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND 5 * CAST(ROUND(l.l_quantity, 0) AS BIGINT) * pa.n < pa.sum_qty
    """,
    tags=("composite", "C1", "D2"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: the classic correlated AVG
    subquery (qty < 0.2·avg(qty) per part), decorrelated into a
    per-part pre-aggregate joined back to the fact. The threshold is
    evaluated as the integer cross-product 5·qty·n < Σqty — identical
    to the 0.2·avg comparison but with zero float divergence."""
    li = t(spark, sf_dir, "lineitem")
    pa = li.groupBy(F.col("l_partkey").alias("pa_partkey")).agg(
        F.sum(_qty()).alias("sum_qty"), F.count("*").alias("n")
    )
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(pa, F.col("pa_partkey") == F.col("l_partkey"))
        .filter(F.lit(5) * _qty() * F.col("n") < F.col("sum_qty"))
        .agg(
            (F.sum(cents("l_extendedprice")) / F.lit(100.0) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q_tpch_q20",
    oracle="""
    WITH heavy AS (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'small%'
          AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
          AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) > 50)
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
      AND n.n_regionkey = 2
    """,
    tags=("composite", "C4", "D1"),
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential-promotion suppliers: IN-subquery (semi join)
    whose inner side is itself an agg-HAVING over the part-filtered
    fact — suppliers who moved >50 units of any 'small%' part in 1997.
    Adapted from partsupp availqty to shipped-quantity sums."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1997-01-01").cast("date"))
        & (F.col("l_shipdate").cast("date") < F.lit("1998-01-01").cast("date"))
    )
    p = F.broadcast(
        t(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select("p_partkey")
    )
    heavy = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_qty()).alias("sq"))
        .filter(F.col("sq") > 50)
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2))
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_name", "n_name")
    )


@register(
    "q_tpch_q21",
    oracle="""
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE o.o_orderstatus = 'F' AND n.n_name = 'NATION_3'
      AND CAST(l1.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE) + 60
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
            SELECT 1 FROM lineitem l3 JOIN orders o3
              ON o3.o_orderkey = l3.l_orderkey
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND CAST(l3.l_shipdate AS DATE)
                  > CAST(o3.o_orderdate AS DATE) + 60)
    GROUP BY s.s_name
    """,
    tags=("composite", "C4", "C5"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting: the EXISTS/NOT-EXISTS
    pair — another supplier participated in the order, but no OTHER
    supplier was late. Adapted lateness = shipped >60 days after the
    order date.

    Spark (r12): the EXISTS/NOT-EXISTS pair is decided per ORDER, so
    one (orderkey, suppkey) census over a single lineitem⋈orders pass
    replaces both correlated self-joins: per supplier-in-order, count
    its lineitems and its LATE lineitems; per order (an unordered
    window over the census — same key, no second exchange), count
    participating suppliers and late suppliers. A late (order,
    supplier) pair qualifies iff the order has ≥2 suppliers (EXISTS)
    and exactly 1 late supplier — itself (NOT EXISTS) — and it
    contributes its late-lineitem count to numwait. (The former
    spelling scanned lineitem 3x and orders 2x and paid SEMI + ANTI
    shuffle joins against the fact; this is 1 scan of each and one
    fact shuffle.) The EXISTS' l2 and NOT EXISTS' l3 range over the
    same F-status order as l1, so the one F-filtered join covers all
    three correlated references."""
    s = t(spark, sf_dir, "supplier")
    n = F.broadcast(t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3"))
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = t(spark, sf_dir, "lineitem")
    late = (
        F.col("l_shipdate").cast("date")
        > F.date_add(F.col("o_orderdate").cast("date"), 60)
    )
    grp = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count_if(late).alias("n_late_rows"))
    )
    wo = Window.partitionBy("l_orderkey")
    qual = (
        grp.withColumn("n_supp", F.count("*").over(wo))
        .withColumn(
            "n_late_supp", F.count_if(F.col("n_late_rows") > 0).over(wo)
        )
        .filter(
            (F.col("n_late_rows") > 0)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    return (
        qual.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy("s_name")
        .agg(F.sum("n_late_rows").alias("numwait"))
    )


@register(
    "q_tpch_q22",
    oracle="""
    WITH pos AS (
        SELECT SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS sum_c,
               COUNT(*) AS n
        FROM customer WHERE c_acctbal > 0.0)
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(SUM(CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
           / 100.0 AS totacctbal
    FROM customer c, pos
    WHERE CAST(ROUND(c.c_acctbal * 100, 0) AS BIGINT) * pos.n > pos.sum_c
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_nationkey
    """,
    tags=("composite", "C5", "D2"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales opportunity: customers above the positive-
    balance average with no urgent orders, grouped by nation (the
    fixture has no c_phone country code). The "above average" test is
    the integer cross-product bal·n > Σbal — exact. Adapted anti-join:
    every fixture customer has orders, so NOT EXISTS filters on
    urgent orders specifically to keep the anti-join non-trivial."""
    c = t(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(cents("c_acctbal")).alias("sum_c"), F.count("*").alias("n")
    )
    urgent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(pos))
        .filter(cents("c_acctbal") * F.col("n") > F.col("sum_c"))
        .join(urgent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            (F.sum(cents("c_acctbal")) / F.lit(100.0)).alias("totacctbal"),
        )
    )


# One SQL text, two engines: registered as BOTH the Spark query (run
# via spark.sql over temp views) and the DuckDB oracle, byte for byte.
_PORTABLE_SQL = """
    SELECT l.l_returnflag,
           COUNT(*) AS n_lines,
           COUNT(DISTINCT o.o_custkey) AS n_customers,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS gross_c,
           MIN(CAST(o.o_orderdate AS DATE)) AS first_order,
           MAX(CAST(o.o_orderdate AS DATE)) AS last_order
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus <> 'P'
    GROUP BY l.l_returnflag
"""


@register("q_sql_portable", oracle=_PORTABLE_SQL, tags=("composite", "A5"))
def q_sql_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end parity proof: the ORACLE STRING ITSELF is executed
    by spark.sql() over temp views of the fixture tables — zero
    translation, the dialect-portable ANSI subset (exact integer money,
    explicit CASTs, no engine-specific functions) this whole oracle
    harness is built on. Any query written in that subset runs on
    either engine unchanged."""
    for name in ("orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_PORTABLE_SQL)


@register(
    "q_sql_scripting",
    oracle="""
    WITH p AS (SELECT CAST(power(10, g) AS BIGINT) AS t
               FROM generate_series(0, 12) s(g)),
         c AS (SELECT t, (SELECT COUNT(*) FROM orders WHERE o_totalprice > t)
                      AS n_above
               FROM p)
    SELECT t AS threshold, CAST(n_above AS BIGINT) AS n_above
    FROM c WHERE n_above < 100 ORDER BY t LIMIT 1
    """,
    tags=("SQL", "scripting"),
)
def q_sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SCRIPTING (Spark 4 `BEGIN…END` compound statements,
    SQL/PSM): a DECLARE + WHILE loop that searches for the smallest
    power-of-10 price threshold with fewer than 100 orders above it —
    procedural, DATA-DEPENDENT control flow executed entirely by the
    SQL engine (each loop condition is a real query over the table; no
    Python between iterations). The oracle enumerates the same
    thresholds declaratively, so both engines must land on the exact
    same (threshold, count). Registered here rather than per-statement
    because scripting is the one surface where the engine, not the
    caller, owns multi-statement state."""
    prev = spark.conf.get("spark.sql.scripting.enabled", None)
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        t(spark, sf_dir, "orders").createOrReplaceTempView("__script_orders")
        return spark.sql(
            """
            BEGIN
              DECLARE t BIGINT DEFAULT 1;
              WHILE (SELECT COUNT(*) FROM __script_orders
                     WHERE o_totalprice > t) >= 100 DO
                SET t = t * 10;
              END WHILE;
              SELECT t AS threshold,
                     (SELECT COUNT(*) FROM __script_orders
                      WHERE o_totalprice > t) AS n_above;
            END
            """
        )
    finally:
        # restore EXACTLY the prior state: when the conf was unset,
        # unset it again — leaving scripting enabled would change SQL
        # parsing for every later query in the shared session
        # (round-5 ADVICE low)
        if prev is not None:
            spark.conf.set("spark.sql.scripting.enabled", prev)
        else:
            spark.conf.unset("spark.sql.scripting.enabled")


@register(
    "q_sql_pipe",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS gross_c,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100, 0)
                         AS BIGINT)) AS BIGINT) AS disc_c
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("SQL", "pipe"),
)
def q_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIPE syntax (Spark 4 `|>` operators, the GoogleSQL
    pipe-query surface): the TPC-H-Q1 pricing summary written as a
    linear dataflow — FROM |> WHERE |> EXTEND (computed exact-cents
    columns) |> AGGREGATE … GROUP BY |> ORDER BY — instead of the
    inside-out nested SELECT. Same Catalyst logical plan as the
    classic spelling (pipe is pure parser surface), so the physical
    plan keeps pushdown + partial aggregation; the oracle is the
    traditional-SQL spelling of the identical query, proving the two
    front ends agree to the cent."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("__pipe_lineitem")
    return spark.sql(
        f"""
        FROM __pipe_lineitem
        |> WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-01'
        |> EXTEND {cents_sql("l_extendedprice")} AS cents,
                  {cents_sql("l_extendedprice * (1 - l_discount)")} AS dcents
        |> AGGREGATE COUNT(*) AS n_items,
                     CAST(SUM(cents) AS BIGINT) AS gross_c,
                     CAST(SUM(dcents) AS BIGINT) AS disc_c
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        """
    )


@register(
    "q_sql_udf",
    oracle="""
    WITH big AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
        WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) > 15000000
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM big GROUP BY o_custkey
    HAVING COUNT(*) >= 3 ORDER BY o_custkey
    """,
    tags=("SQL", "udf"),
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 `CREATE FUNCTION … RETURN expr` —
    SQL/PSM functions, zero Python): a scalar function `cents(x)`
    encapsulating the repo's exact-money idiom, and a TABLE function
    `big_orders(min_cents)` whose body is a parameterized SELECT —
    both defined in the catalog, both inlined by the analyzer into the
    calling query, so the optimized plan is identical to writing the
    expressions by hand (fully pushdown-able, codegen'd — the opposite
    of a Python UDF's black box; this is what makes SQL UDFs the
    preferred extension mechanism at scale). The report: customers
    with ≥3 orders above 150,000.00, with exact-cent totals."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__udf_orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cents(x DOUBLE) "
        f"RETURNS BIGINT RETURN {cents_sql('x')}"
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION big_orders(min_cents BIGINT)
        RETURNS TABLE(o_custkey BIGINT, cents BIGINT)
        RETURN SELECT o_custkey, cents(o_totalprice)
               FROM __udf_orders WHERE cents(o_totalprice) > min_cents
        """
    )
    return spark.sql(
        """
        SELECT o_custkey, COUNT(*) AS n_big,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM big_orders(15000000)
        GROUP BY o_custkey HAVING COUNT(*) >= 3
        """
    )


@register(
    "q_sql_recursive_cte",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
    ),
    hops(node, hop) AS (
        SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
        UNION ALL
        SELECT CAST(e.dst AS BIGINT), h.hop + 1
        FROM hops h JOIN edges e ON e.src = h.node
        WHERE h.hop < 3
    )
    SELECT node, CAST(MIN(hop) AS BIGINT) AS hops
    FROM hops GROUP BY node
    """,
    tags=("SQL", "graph", "N4"),
)
def q_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECURSIVE CTE (Spark 4.1 ``WITH RECURSIVE``) — the engine-native
    iteration surface this repo previously covered only with unrolled
    chained-CTE plans (q_graph_pagerank discipline) and driver loops:
    bounded-depth BFS hop counts from nation 0 over the distinct
    nation trade graph, ``UNION ALL`` recursion with a ``hop < 3``
    guard and a final MIN(hop) per node. DuckDB runs the IDENTICAL
    statement, so the two engines' recursion semantics (seed row,
    per-level join, bound, aggregate-after) are proven to agree.

    Scale shape: each recursion level is one frontier⋈edges shuffle —
    the same per-round dataflow as the unrolled BFS, but the ENGINE
    owns the loop (no analysis cost growing with rounds). The known
    trap at 100 TB is frontier blow-up: UNION ALL recursion re-visits
    a node once per distinct path (this dense 25-node graph makes
    ~edges^3 rows at depth 3, harmless here, fatal at scale) and Spark
    forbids aggregates inside the recursive term, so per-level
    dedup/min-hop compaction is impossible in-CTE — exactly when the
    driver-loop spelling with per-round ``groupBy(node).min(hop)``
    (operators/graph.py) takes over. Both spellings now exist, with
    the crossover documented."""
    from ..operators.graph import _trade_base

    edges = (
        _trade_base(spark, sf_dir)
        .select(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    edges.createOrReplaceTempView("__rec_edges")
    return spark.sql(
        """
        WITH RECURSIVE hops(node, hop) AS (
            SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS hop
            UNION ALL
            SELECT CAST(e.dst AS BIGINT), h.hop + 1
            FROM hops h JOIN __rec_edges e ON e.src = h.node
            WHERE h.hop < 3
        )
        SELECT node, CAST(MIN(hop) AS BIGINT) AS hops
        FROM hops GROUP BY node
        """
    )


@register(
    "q_sql_variables",
    oracle="""
    WITH thr AS (
        SELECT MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) * 3 // 4
            AS v
        FROM orders
    )
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders o CROSS JOIN thr
    WHERE CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) > thr.v
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("SQL", "N4"),
)
def q_sql_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SESSION VARIABLES (Spark 4 ``DECLARE VARIABLE`` /
    ``SET VAR``) — the parameterized-script surface: a BIGINT
    threshold is DECLAREd, bound from a scalar subquery over the data
    (75% of the max order cents — data-dependent, so the test proves
    the variable carries a real computed value, not parser sugar),
    then referenced by name in a later statement's WHERE. The oracle
    inlines the same scalar as a CTE, proving variable binding ==
    textual substitution to the cent. At scale the SET VAR runs its
    subquery as an ordinary job and the variable is a driver-resident
    scalar folded into the consuming plan as a literal — pushdown-
    friendly (it prunes at the scan exactly like a constant)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__var_orders")
    spark.sql(
        "DECLARE OR REPLACE VARIABLE __big_thr BIGINT DEFAULT 0"
    )
    price = cents_sql("o_totalprice")
    spark.sql(
        f"""
        SET VAR __big_thr =
            (SELECT MAX({price}) * 3 DIV 4
             FROM __var_orders)
        """
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM({price}) AS BIGINT) AS cents
        FROM __var_orders
        WHERE {price} > __big_thr
        GROUP BY o_orderpriority
        """
    )


@register(
    "q_sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_totalprice > 150000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("SQL", "N4"),
)
def q_sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4+ named parameter markers +
    IDENTIFIER() clause, spark:python/pyspark/sql/session.py sql(...,
    args=...)): the injection-safe front end every SQL service puts in
    front of user input — values bind as TYPED literals through
    `:name` markers (never string interpolation) and the table name
    binds through IDENTIFIER(:tbl), which parses as an identifier or
    fails (a value like 'orders; DROP ...' cannot escape into the
    grammar). The oracle is the same query with the parameters inlined
    — binding must be semantically invisible. Parameters are resolved
    at parse time, so the physical plan is identical to the literal
    spelling: pushdown and partial aggregation intact."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__param_orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT) AS cents
        FROM IDENTIFIER(:tbl)
        WHERE o_totalprice > :minp AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"tbl": "__param_orders", "minp": 150000.0, "status": "F"},
    )


@register(
    "q_sql_group_by_all",
    oracle="""
    SELECT o_orderpriority,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    tags=("SQL", "N4", "D1"),
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (the Spark 4 / DuckDB / BigQuery
    convergent shorthand): group by every non-aggregate select
    expression — including the COMPUTED year() dimension, the case
    where hand-maintained positional lists rot when a column is
    added — and order by all output columns left-to-right. The oracle
    is DuckDB's own GROUP BY ALL, so the two engines' inference rules
    are proven to pick the identical grouping set (a divergence —
    e.g. one engine grouping by the underlying column instead of the
    expression — changes row counts and fails the diff). Pure parser
    surface: the physical plan is the ordinary partial+final hash
    aggregate with pushdown intact."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__gba_orders")
    return spark.sql(
        f"""
        SELECT o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               COUNT(*) AS n,
               CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT) AS cents
        FROM __gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )


# Correlated-subquery surface: the SAME portable SQL runs on both
# engines (q_sql_portable's parity rule) — four correlated scalar
# aggregates over the same relation plus an EXISTS, all against
# EXACT integer cents so no float threshold can flip a boundary row.
# Only the oracle appends an ORDER BY; no check reads the order.
_DECORRELATE_SELECT = """
    WITH o AS (
        SELECT o_custkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    )
    SELECT c.c_custkey,
           (SELECT COUNT(*) FROM o
            WHERE o.o_custkey = c.c_custkey) AS n_orders,
           (SELECT MAX(cents) FROM o
            WHERE o.o_custkey = c.c_custkey) AS max_cents
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM o WHERE o.o_custkey = c.c_custkey)
      AND (SELECT MAX(cents) FROM o WHERE o.o_custkey = c.c_custkey)
            * (SELECT COUNT(*) FROM o WHERE o.o_custkey = c.c_custkey)
          > 2 * (SELECT SUM(cents) FROM o
                 WHERE o.o_custkey = c.c_custkey)
"""


@register(
    "q_sql_decorrelate",
    oracle=_DECORRELATE_SELECT + "    ORDER BY c.c_custkey\n",
    tags=("composite", "C1"),
)
def q_sql_decorrelate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATED SUBQUERY DECORRELATION — customers whose single
    largest order exceeds twice their own average order value
    (max * n > 2 * sum over exact cents), written the way an analyst
    writes it: four correlated scalar aggregate subqueries plus an
    EXISTS, all correlated on c_custkey against the same derived
    relation.

    This query exists to pin the OPTIMIZER contract (SURVEY §4), not
    new semantics: executed naively it is five probes of `orders` PER
    CUSTOMER ROW — O(|customer| * |orders|). Catalyst's
    RewriteCorrelatedScalarSubquery + RewritePredicateSubquery +
    MergeScalarSubqueries rules decorrelate every probe into
    aggregate-then-JOIN form (the EXISTS becomes a semi/outer join,
    the four scalars collapse onto a shared per-custkey aggregate), so
    the physical plan is a bounded number of hash joins over ONE
    aggregation of orders — tests/test_plans.py asserts no
    BroadcastNestedLoopJoin / CartesianProduct survives in the
    physical plan, which IS the 100-TB viability of this spelling."""
    for name in ("orders", "customer"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_DECORRELATE_SELECT)


@register(
    "q_sql_variant",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k,
               json_extract(props, '$.absent') AS missing
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           CAST(COUNT(DISTINCT k) AS BIGINT) AS n_distinct_k,
           CAST(COUNT(missing) AS BIGINT) AS n_missing,
           'OBJECT<k: BIGINT>' AS vschema
    FROM x GROUP BY event_type ORDER BY event_type
    """,
    tags=("composite", "H8", "N"),
)
def q_sql_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT data type (Spark 4.0's semi-structured column — the
    open-source answer to Snowflake VARIANT, SPARK-45891): the JSON
    payload is parsed ONCE into the binary VARIANT encoding with
    parse_json, then every downstream access is a typed
    variant_get/try_variant_get path lookup on the binary value — at
    100 TB this replaces per-access JSON string re-parsing (the
    q_json_extract shape) with a parse-once columnar layout, the same
    reason the type exists in every warehouse. Covered surface:
    parse_json, typed variant_get('$.k', 'bigint'), try_variant_get on
    a MISSING path (returns NULL, never raises — counted to prove it),
    and schema_of_variant_agg (the per-group inferred schema, a
    deterministic literal here). The oracle reads the same payloads
    with DuckDB's JSON extraction — two engines, two semi-structured
    stacks, one census.

    Plan: parse_json + variant_get are JVM expressions inside
    whole-stage codegen (no Python, no UDF); one map-side-combined
    groupBy. The fact table is scanned once."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", F.parse_json("props").alias("vj")
    )
    x = ev.select(
        "event_type",
        F.expr("variant_get(vj, '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(vj, '$.absent', 'string')").alias(
            "missing"
        ),
        F.expr("schema_of_variant(vj)").alias("vs"),
    )
    return (
        x.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("k").cast("bigint").alias("n_distinct_k"),
            F.count("missing").cast("bigint").alias("n_missing"),
            F.max("vs").alias("vschema"),
        )
    )


@register(
    "q_sql_execute_immediate",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem
    WHERE l_quantity < 25
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("N16", "composite"),
)
def q_sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC SQL surface (Spark 4.0 SPARK-44811 EXECUTE IMMEDIATE +
    the 3.5 IDENTIFIER clause, SPARK-43205): the templated-query
    pattern every BI/ELT tool emits — a SQL string assembled at
    runtime with the table and measure names bound through
    IDENTIFIER() (injection-safe name parameterization: IDENTIFIER
    turns a constant string into a resolved NAME, never into arbitrary
    SQL) and the filter value
    bound as a positional ? parameter (plan-cache-friendly value
    parameterization). Both engines compute the identical static
    query, so the oracle is that query — what's under test is that
    Spark's dynamic-SQL front door produces exactly the statically-
    planned result (same pushdown, same agg), i.e. the template layer
    adds zero semantic drift.

    Plan: identical to the static spelling — Catalyst parses the inner
    string once at EXECUTE time; the parquet scan keeps its pushed
    quantity filter (the template does not defeat pushdown)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    revenue = cents_sql("IDENTIFIER('l_' || 'extendedprice')")
    template = (
        "SELECT l_returnflag, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(SUM({revenue}) AS BIGINT) AS revenue_cents "
        "FROM IDENTIFIER('line' || 'item') "
        "WHERE l_quantity < ? "
        "GROUP BY l_returnflag"
    )
    return spark.sql(
        "EXECUTE IMMEDIATE :tpl USING 25",
        args={"tpl": template},
    )


@register(
    "q_sql_udf_lateral",
    oracle="""
    SELECT l_returnflag, tier, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                    * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                AS BIGINT) AS revenue_e4
    FROM lineitem CROSS JOIN (SELECT unnest(range(1, 6)) AS tier) tiers
    WHERE tier <= CAST(l_quantity AS BIGINT) // 10
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("N17", "composite"),
)
def q_sql_udf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL SQL table function (Spark 4.0 SPARK-46246):
    the corner q_sql_udf leaves open — there the table function takes
    a constant parameter; here `qty_tiers(l_quantity)` is invoked
    once PER ROW through `FROM lineitem, LATERAL qty_tiers(...)`, the
    row-correlated set-returning call (SQL-standard lateral
    derived-table semantics) that per-row expansion logic compiles
    to. A scalar SQL UDF (`rev_e4`: exact revenue in price-cents x
    discount-percent units, pure integer arithmetic) rides along in
    the aggregate. Both are inlined by the analyzer, so the optimizer
    sees raw expressions: whole-stage codegen, pushdown and map-side
    partial aggregation all survive — the lateral-UDF layer must add
    ZERO semantic or planner drift, which is what the oracle (the
    same query with both bodies inlined by hand) checks.

    The table function filters a STATIC 5-element sequence INSIDE the
    generator — `explode(filter(sequence(1L,5L), x -> x <= q div
    10))` — for two reasons: (a) a start-greater-than-stop
    `sequence(1, q div 10)` would generate DESCENDING [1,0] for
    q < 10 (Spark sequence is bidirectional) instead of zero rows;
    (b) spelling the correlation as a WHERE in the TVF body leaves a
    BroadcastNestedLoopJoin against the 5-row side in the plan,
    while the filter-inside-explode form fuses the correlated
    predicate INTO the Generate node — the physical plan has NO join
    at all (pinned by the global cartesian lint). Rows with
    quantity < 10 produce an empty lateral set and drop out of the
    INNER lateral identically in both engines (DuckDB oracle:
    `range(1,6)` cross join + WHERE).

    Plan at 100 TB: one scan -> Generate (<=5x fan-out) -> map-side-
    combined groupBy; the scan reads only the four referenced columns
    (UDF inlining preserves column pruning)."""
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION rev_e4(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT "
        f"RETURN {cents_sql('p')} * (100 - {cents_sql('d')})"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION qty_tiers(q DOUBLE) "
        "RETURNS TABLE(tier BIGINT) "
        "RETURN SELECT explode(filter(sequence(1L, 5L),"
        " x -> x <= CAST(q AS BIGINT) div 10)) AS tier"
    )
    return spark.sql(
        """
        SELECT l_returnflag, tier, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rev_e4(l_extendedprice, l_discount)) AS BIGINT)
                 AS revenue_e4
        FROM lineitem, LATERAL qty_tiers(l_quantity)
        GROUP BY l_returnflag, tier
        """
    )


@register(
    "q_sql_exec_into",
    oracle="""
    WITH cut AS (
        SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) // COUNT(*) AS cutoff
        FROM orders
    ),
    hi AS (
        SELECT o_orderpriority, cutoff
        FROM orders, cut
        WHERE CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) > cutoff
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hi FROM hi)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above,
           CAST(MIN(cutoff) AS BIGINT) AS cutoff_cents,
           CAST(MIN(n_hi) AS BIGINT) AS n_hi_total
    FROM hi, tot
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("N18", "composite"),
)
def q_sql_exec_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`EXECUTE IMMEDIATE ... INTO` (Spark 4.0 SPARK-44811): the
    dynamic-SQL RESULT-CAPTURE corner that completes the scripting
    triangle — q_sql_variables pins DECLARE/SET VAR, N16's
    q_sql_execute_immediate pins dynamic statements; this query pins
    their composition. Three statements: (1) SET VAR binds the mean
    order value in exact cents (integer SUM div COUNT — no float)
    from a scalar subquery; (2) EXECUTE IMMEDIATE ... INTO captures a
    DYNAMIC statement's scalar result into a second variable, and the
    dynamic text itself references the first variable — proving
    session variables resolve INSIDE dynamically-compiled SQL;
    (3) the final query filters on one variable and projects both,
    proving the full round-trip. The oracle is the single static
    query with both variables inlined as CTEs: the capture layer must
    add zero semantic drift.

    Plan at 100 TB: each SET VAR is one bounded scalar aggregate
    collected to the session (a broadcast-sized value, the explicit
    form of a scalar subquery); the final scan then carries the
    threshold as a LITERAL — Catalyst constant-folds it into the
    pushed filter, which a correlated scalar subquery would deny to
    the parquet reader."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE hi_cutoff_cents BIGINT")
    price = cents_sql("o_totalprice")
    spark.sql(
        "SET VAR hi_cutoff_cents = "
        f"(SELECT SUM({price}) "
        " DIV COUNT(*) FROM orders)"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE n_hi BIGINT")
    spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT CAST(COUNT(*) AS BIGINT) FROM orders "
        f" WHERE {price}"
        " > hi_cutoff_cents' INTO n_hi"
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_above,
               hi_cutoff_cents AS cutoff_cents, n_hi AS n_hi_total
        FROM orders
        WHERE {price} > hi_cutoff_cents
        GROUP BY o_orderpriority
        """
    )


_COLLATE_KEYWORDS = ("agg", "scan", "spark", "table", "vector")
_COLLATE_OFFSET = 400_000


@register(
    "q_sql_collation",
    oracle=f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_COLLATE_OFFSET}, UPPER(text) FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus
    ),
    kw(word) AS (VALUES {", ".join(f"('{k}')" for k in _COLLATE_KEYWORDS)})
    SELECT kw.word AS keyword,
           CAST(COUNT(*) AS BIGINT) AS n_mentions_ci,
           CAST(SUM(CASE WHEN t.w = kw.word THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mentions_cs,
           CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs_ci
    FROM toks t JOIN kw ON lower(t.w) = kw.word
    GROUP BY kw.word
    ORDER BY kw.word
    """,
    tags=("N18", "H1"),
)
def q_sql_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING COLLATIONS (Spark 4.0 SPARK-46830): case-insensitive
    comparison as a TYPE property — `w COLLATE UTF8_LCASE = keyword`
    drives a hash equi-join whose keys compare case-insensitively
    inside the JVM comparator, replacing the classic lower()-wrapping
    idiom that (a) materializes a second string per row and (b) hides
    the original value from pushdown/statistics. The corpus is planted
    with an UPPER()-shouted copy of every document (doc_id +
    {_COLLATE_OFFSET} — the winnowing clone pattern) so the collated
    and binary semantics measurably DIVERGE: for each all-lowercase
    keyword the result proves n_mentions_ci = 2 x n_mentions_cs
    (collation matches the shouted copies, binary equality does not)
    — the oracle spells the same semantics portably with lower().

    Deterministic output contract: collated GROUP BY keys pick an
    arbitrary case representative, so the result projects the
    CANONICAL keyword from the broadcast keyword list and only
    counts ride the collated comparison — counts are
    representative-free.

    Plan at 100 TB: tokens explode map-side; the keyword list (5
    rows) broadcasts; one map-side-combined groupBy per keyword —
    the collation comparator adds zero plan shape. Measured cost
    (BASELINE.md round 12): on short ASCII tokens a COLLATED groupBy
    is ~13% SLOWER than the lower() spelling it replaces — the
    comparator pays the case-fold on every hash/compare while
    lower() pays it once per row — so the collation's value here is
    semantic (original value preserved for pushdown/statistics/
    display), not raw speed; on wide strings compared rarely the
    trade reverses."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.select(
            (F.col("doc_id") + F.lit(_COLLATE_OFFSET)).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    )
    toks = corpus.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    kw = local_df(
        spark, [(k,) for k in _COLLATE_KEYWORDS], "word STRING"
    )
    joined = toks.join(
        F.broadcast(kw),
        F.expr("w COLLATE UTF8_LCASE") == F.col("word"),
    )
    return (
        joined.groupBy("word")
        .agg(
            F.count("*").cast("bigint").alias("n_mentions_ci"),
            F.sum(F.when(F.col("w") == F.col("word"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_mentions_cs"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs_ci"),
        )
        .select(
            F.col("word").alias("keyword"),
            "n_mentions_ci",
            "n_mentions_cs",
            "n_docs_ci",
        )
    )


@register(
    "q_sql_lateral_alias",
    oracle="""
    WITH x AS (
        SELECT o_orderpriority,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                 - CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 500000
                 AS bucket_cents,
               (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                 - CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 500000)
                 // 100 AS bucket_dollars
        FROM orders
    )
    SELECT o_orderpriority, bucket_dollars,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(cents) AS BIGINT) AS min_cents,
           CAST(MAX(cents) AS BIGINT) AS max_cents
    FROM x
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("N17", "SQL"),
)
def q_sql_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL COLUMN ALIAS (Spark 3.4 SPARK-27561) — referencing an
    alias defined EARLIER IN THE SAME SELECT list, the
    spreadsheet-style incremental derivation every analyst writes
    first (`cents`, then `bucket_cents` FROM cents, then
    `bucket_dollars` FROM bucket_cents — a depth-3 chain proving
    TRANSITIVE resolution, not just one hop). Pre-3.4 Spark forced
    either a nested subquery per derivation step or full re-expansion
    of every intermediate expression; the ORACLE IS the
    fully-expanded spelling, so the zero-drift contract (identical
    buckets, counts and extrema) pins the semantics. The
    session-variable/EXECUTE-IMMEDIATE discipline applied to the
    SELECT list itself.

    Exactness: pure integer cent arithmetic; the $5000 bucket floor
    is non-negative (no truncate-vs-floor hazard).

    Plan at 100 TB (measured, pinned in test_plans): the alias
    spelling is not merely syntax — the optimizer KEEPS the aliased
    `cents` as a materialized intermediate (a second narrow Project),
    evaluating the cast/round chain ONCE per row, while the
    hand-expanded spelling re-evaluates it 3x inside one Project
    (CollapseProject cannot re-factor common subexpressions it was
    handed pre-expanded) — the alias chain is the CHEAPER plan for
    repeated derivations, the inverse of the HOF-lambda inlining
    trap. Either way: one scan, map-side-combined two-key groupBy,
    column pruning reaches the scan."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("__lca_orders")
    return spark.sql(
        f"""
        WITH x AS (
            SELECT o_orderpriority,
                   {cents_sql("o_totalprice")} AS cents,
                   cents - cents % 500000 AS bucket_cents,
                   bucket_cents div 100 AS bucket_dollars
            FROM __lca_orders
        )
        SELECT o_orderpriority, bucket_dollars,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(cents) AS BIGINT) AS min_cents,
               CAST(MAX(cents) AS BIGINT) AS max_cents
        FROM x
        GROUP BY o_orderpriority, bucket_dollars
        """
    )
