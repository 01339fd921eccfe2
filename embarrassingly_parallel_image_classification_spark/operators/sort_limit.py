"""F1–F4: sort / limit / top-k (SURVEY.md §2-F).

Scale notes: global orderBy is a range-partitioned sort (sampled
boundaries, fully parallel); orderBy+limit fuses into
TakeOrderedAndProject (per-partition heap of k, tiny driver merge —
O(k) memory at any scale); per-group top-k is a ranking window +
filter, one shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import pin
from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_sort",
    oracle="""
    SELECT s_suppkey, s_name, ROUND(s_acctbal, 6) AS acctbal
    FROM supplier
    ORDER BY s_acctbal DESC, s_suppkey
    """,
    tags=("F1",),
)
def q_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort (driver compare is order-insensitive, but the plan
    exercises the range-partitioned sort path)."""
    return (
        t(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", F.round("s_acctbal", 6).alias("acctbal"))
        .orderBy(F.desc("acctbal"), F.asc("s_suppkey"))
    )


@register(
    "q_topk_global",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    tags=("F2",),
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orderBy+limit → TakeOrderedAndProject. Unique tiebreak (orderkey)
    makes the top-20 set deterministic across engines."""
    return (
        t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@register(
    "q_topk_per_group",
    oracle="""
    SELECT * FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey) AS rn
        FROM customer
    ) WHERE rn <= 3
    """,
    tags=("F3",),
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by balance per segment (k-most-confident-tiles-
    per-class analog [PK])."""
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        t(spark, sf_dir, "customer")
        .select("c_mktsegment", "c_custkey", "c_acctbal", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


@register("q_freq_items", oracle=None, tags=("F4", "rows-only"))
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.freqItems: single-pass heavy-hitter sketch (Karp et al.) —
    the constant-memory alternative to groupBy-count-sort when only
    items above a support threshold matter. Approximate (may include
    false positives) ⇒ rows-only; the no-false-negatives guarantee is
    asserted in tests/test_approx.py."""
    ev = t(spark, sf_dir, "events")
    freq = ev.freqItems(["event_type", "user_id"], support=0.1)
    return freq.select(
        F.array_join(
            F.sort_array(F.col("event_type_freqItems")), ","
        ).alias("frequent_types"),
        F.size(F.col("user_id_freqItems")).alias("n_frequent_users"),
    )


@register(
    "q_topk_freq",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY n DESC, event_type
    LIMIT 3
    """,
    tags=("F4",),
)
def q_topk_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters: agg-then-topk — the aggregation shrinks the data
    to |domain| rows before the top-k, so this is 100-TB safe."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
        .limit(3)
    )


@register(
    "q_lateral_topn",
    oracle="""
    SELECT n.n_name, c2.c_custkey, c2.acctbal_cents
    FROM nation n, LATERAL (
        SELECT c_custkey,
               CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS acctbal_cents
        FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey
        LIMIT 2) c2
    """,
    tags=("F3", "C8"),
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via a correlated LATERAL subquery
    (DataFrame.lateralJoin, Spark 4) — the SQL-native alternative to
    the window+filter idiom of q_topk_per_group: for each nation, its
    two richest customers. Catalyst decorrelates the LIMITed subquery
    into a ranked join (DomainJoin → window), so the plan is still one
    shuffle — no per-outer-row re-execution. Money compared in integer
    cents for cross-engine exactness."""
    nat = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    sub = (
        cust.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(2)
        .select(
            "c_custkey",
            cents("c_acctbal").alias("acctbal_cents"),
        )
    )
    return nat.lateralJoin(sub).select("n_name", "c_custkey", "acctbal_cents")


def two_phase_rank(
    df: DataFrame, bucket, order_cols: list, ascending: bool = True
) -> DataFrame:
    """DETERMINISTIC distributed global rank — the scale replacement
    for a single-partition ROW_NUMBER() OVER (ORDER BY ...) window:

    1. ``bucket`` must be a DETERMINISTIC coarse key that is a PREFIX
       of the total order (every row in a lower bucket precedes every
       row in a higher one, for ``ascending``; reversed otherwise) —
       e.g. floor(score) for an (score, id) order. Unlike a
       repartitionByRange partition id, it cannot move between plan
       re-evaluations, so the offsets frame and the rank frame can
       never disagree (range sampling is nondeterministic across
       jobs).
    2. per-bucket local row_number — a window PARTITIONED by bucket,
       fully parallel;
    3. rank offsets from a |buckets|-row count frame, broadcast back;
       global rank = offset + local rank, in column ``rk``.

    The only full-data exchange is the bucket shuffle. Bucket
    granularity tunes skew exactly like any hash key — quantize finer
    when one bucket would dominate.

    NULL handling: a NULL bucket (from a NULL sort key) is a real
    bucket — the offsets join is NULL-SAFE, so such rows are ranked,
    not dropped, and they land where Spark's window ordering puts
    NULLs (asc ⇒ first, desc ⇒ last; groupBy and the offsets window
    treat NULL as one key on both paths). Callers matching a DuckDB
    NTILE oracle should still filter or coalesce NULL keys — the
    ENGINES disagree on NULL placement (DuckDB defaults NULLS LAST
    for asc), not this helper with itself."""
    b = df.withColumn("__bkt", bucket)
    ords = [c if ascending else F.desc(c) if isinstance(c, str) else c for c in order_cols]
    wloc = Window.partitionBy("__bkt").orderBy(*ords)
    local = b.withColumn("__lrk", F.row_number().over(wloc))
    sizes = local.groupBy("__bkt").agg(F.count("*").alias("__cnt"))
    woff = Window.orderBy(
        F.asc("__bkt") if ascending else F.desc("__bkt")
    ).rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.select(
        F.col("__bkt").alias("__bkt_o"),
        F.coalesce(F.sum("__cnt").over(woff), F.lit(0)).alias("__off"),
    )
    return (
        local.join(
            F.broadcast(offs), F.col("__bkt").eqNullSafe(F.col("__bkt_o"))
        )
        .withColumn("rk", F.col("__off") + F.col("__lrk"))
        .drop("__bkt", "__bkt_o", "__lrk", "__off")
    )


def ntile_from_rank(n_buckets: int) -> str:
    """NTILE's closed-form bucket rule as a SQL expression over a
    global rank column ``rk`` and total count ``n_tot``: the first
    n_tot mod k buckets hold ⌈n_tot/k⌉ rows, the rest ⌊n_tot/k⌋ —
    bit-identical to NTILE(k) over the same total order. One
    definition shared by q_eval_lift (k=10) and q_agg_equidepth (k=8)
    so the remainder-boundary arithmetic can never diverge between
    them."""
    k = int(n_buckets)
    return f"""CASE WHEN rk <= (n_tot % {k}) * (n_tot DIV {k} + 1)
                THEN (rk - 1) DIV (n_tot DIV {k} + 1) + 1
                ELSE (n_tot % {k})
                     + (rk - 1 - (n_tot % {k}) * (n_tot DIV {k} + 1))
                       DIV (n_tot DIV {k}) + 1 END"""


@register(
    "q_agg_equidepth",
    oracle="""
    WITH c AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    d AS (
        SELECT cents,
               NTILE(8) OVER (ORDER BY cents, o_orderkey) AS bucket
        FROM c
    )
    SELECT bucket, COUNT(*) AS n,
           MIN(cents) AS lo_cents, MAX(cents) AS hi_cents
    FROM d GROUP BY bucket
    """,
    tags=("D9", "E4", "scale"),
)
def q_agg_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH histogram (quantile binning) of order value: 8
    buckets of equal row count with their exact [lo, hi] cent
    boundaries — what optimizers store as statistics and risk systems
    use as empirical quantile bands; the complement of
    q_agg_histogram's equal-WIDTH bins. The oracle spells it NTILE;
    the Spark plan (r12) never ranks the fact table at all: every
    output cell is a CLOSED FORM of order statistics. Bucket row
    counts follow from n_tot alone (NTILE's remainder rule), and each
    bucket's [lo, hi] is the cents value at a known global rank —
    located via a pinned ~600-row BLOCK census (bkt = cents DIV
    100000, a prefix of the cents order): the block containing each
    boundary rank is found on the census, then ONE re-scan restricted
    to the ≤16 boundary blocks ranks within-block only. (The former
    spelling ranked every fact row via two_phase_rank and crossJoined
    the count — 4 fact scans and a fact-wide rank shuffle; ties across
    a bucket boundary don't matter because the VALUE at a rank is
    tie-permutation invariant.) Two narrow fact scans, all other
    frames census- or literal-sized."""
    c = t(spark, sf_dir, "orders").select(
        cents("o_totalprice").alias("cents"),
    ).withColumn("bkt", F.expr("cents DIV 100000"))
    blocks = pin(
        c.groupBy("bkt")
        .agg(F.count("*").alias("cnt")),
        "q_agg_equidepth.blocks",
    )
    wb = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    cum = blocks.select(
        F.col("bkt").alias("lbkt"),
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("off"),
    )
    n_tot_frame = blocks.agg(F.sum("cnt").alias("n_tot"))
    buckets = (
        spark.range(1, 9, 1, 1)  # one slice: 8 literal rows
        .select(F.col("id").alias("bucket"))
        .crossJoin(F.broadcast(n_tot_frame))
        .selectExpr(
            "bucket",
            "n_tot DIV 8 + IF(bucket <= n_tot % 8, 1, 0) AS n",
            "(bucket - 1) * (n_tot DIV 8)"
            " + LEAST(bucket - 1, n_tot % 8) + 1 AS rs",
        )
        .selectExpr("bucket", "n", "rs", "rs + n - 1 AS re")
    )
    bnd = buckets.selectExpr(
        "bucket", "n", "stack(2, 'lo', rs, 'hi', re) AS (which, r)"
    )
    loc = bnd.join(
        F.broadcast(cum),
        (F.col("off") < F.col("r")) & (F.col("r") <= F.col("off") + F.col("cnt")),
    ).select(
        "bucket", "n", "which", "lbkt", (F.col("r") - F.col("off")).alias("lr")
    )
    need = loc.select(F.col("lbkt").alias("nbkt")).distinct()
    vals = (
        c.join(F.broadcast(need), F.col("bkt") == F.col("nbkt"))
        .drop("nbkt")
        .withColumn(
            "lrk",
            F.row_number().over(Window.partitionBy("bkt").orderBy("cents")),
        )
        .join(
            F.broadcast(loc),
            (F.col("bkt") == F.col("lbkt")) & (F.col("lrk") == F.col("lr")),
        )
    )
    return (
        vals.groupBy("bucket", "n")
        .agg(
            F.min(F.when(F.col("which") == "lo", F.col("cents"))).alias(
                "lo_cents"
            ),
            F.min(F.when(F.col("which") == "hi", F.col("cents"))).alias(
                "hi_cents"
            ),
        )
        .select("bucket", "n", "lo_cents", "hi_cents")
    )
