"""G1–G3: set operations (SURVEY.md §2-G).

Reference analog: pandas concat of the 2010+2016 prediction sets and
python set ops on tile ids [PK]. unionByName is a zero-shuffle
concatenation of partitions; intersect/except compile to semi/anti
joins after a distinct.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_union",
    oracle="""
    SELECT c_custkey, c_mktsegment, 'auto' AS cohort FROM customer
    WHERE c_mktsegment = 'AUTOMOBILE'
    UNION ALL
    SELECT c_custkey, c_mktsegment, 'machine' AS cohort FROM customer
    WHERE c_mktsegment = 'MACHINERY'
    """,
    tags=("G1",),
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName of two tagged cohorts (2010 ∪ 2016 snapshots analog)."""
    c = t(spark, sf_dir, "customer")
    auto = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select(
        "c_custkey", "c_mktsegment", F.lit("auto").alias("cohort")
    )
    mach = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey", "c_mktsegment", F.lit("machine").alias("cohort")
    )
    return auto.unionByName(mach)


@register(
    "q_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("G2",),
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nations having both customers and suppliers."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "q_intersect_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("G2",),
)
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag intersection (INTERSECT ALL): per nation the result keeps
    min(#customers, #suppliers) rows — multiplicity-aware matching, the
    capacity-pairing semantics DISTINCT intersect destroys. Compiles to
    one shuffle per side + a multiplicity-tracking hash agg, not a
    distinct-then-semi-join."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersectAll(s)


@register(
    "q_except_all",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    tags=("G3",),
)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag difference (EXCEPT ALL): per nation, max(0, #customers −
    #suppliers) rows survive — the 'unmatched demand' multiset a
    DISTINCT except collapses to 0/1."""
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.exceptAll(s)


@register(
    "q_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    tags=("G3",),
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no FINAL-status order, as a set difference
    (EXCEPT DISTINCT semantics via ``subtract`` — exceptAll would keep
    multiplicity). The right side is filtered to 'F' orders because
    every fixture customer has some order — the unfiltered difference
    was a vacuous 0-row-vs-0-row oracle match (r6-verdict pattern)."""
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(o)


@register(
    "q_union_by_name",
    oracle="""
    SELECT side, key, cents, region_key
    FROM (
        SELECT 'cust' AS side, c_custkey AS key,
               CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents,
               CAST(NULL AS BIGINT) AS region_key
        FROM customer WHERE c_custkey % 101 = 0
        UNION ALL
        SELECT 'supp' AS side, s_suppkey AS key,
               CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS cents,
               CAST(n_regionkey AS BIGINT) AS region_key
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey % 11 = 0
    )
    """,
    tags=("G1",),
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligning union (`unionByName(allowMissingColumns=True)`):
    the two branches present their columns in DIFFERENT physical order
    and one carries an extra `region_key` the other lacks — the
    position-based UNION would silently pair wrong columns (or fail on
    arity), while by-name alignment matches columns by identifier and
    NULL-fills the gap, exactly DuckDB's `UNION ALL BY NAME`. This is
    the everyday shape of unioning two upstream feeds that drifted:
    column order is NOT part of either feed's contract. Map-side only —
    a union adds no shuffle or barrier; each branch keeps its own
    pushdown and partitioning."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    cust = c.filter(F.col("c_custkey") % 101 == 0).select(
        F.lit("cust").alias("side"),
        F.col("c_custkey").alias("key"),
        cents("c_acctbal").alias("cents"),
    )
    supp = (
        s.filter(F.col("s_suppkey") % 11 == 0)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_regionkey").cast("bigint").alias("region_key"),
            cents("s_acctbal").alias("cents"),
            F.col("s_suppkey").alias("key"),
            F.lit("supp").alias("side"),
        )
    )
    return cust.unionByName(supp, allowMissingColumns=True).select(
        "side", "key", "cents", "region_key"
    )
