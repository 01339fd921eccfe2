"""D1–D12: aggregation family (SURVEY.md §2-D).

Reference analog: ``value_counts`` / numpy means / sklearn crosstab in the
evaluation notebook [PK]. Every groupBy below compiles to Spark's
two-phase HashAggregate (partial map-side combine → final after shuffle),
so the shuffle moves one row per (group × partition), not raw data — the
property that makes these safe at 100 TB.

Oracle-compat rules applied throughout (SURVEY §7): float aggregates
rounded to 6; collect_list compared as a sorted joined string; pivot
columns written as FILTER aggregates in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df, pin
from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_agg_basic",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 6) AS sum_qty,
           ROUND(SUM(l_extendedprice), 6) AS sum_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           ROUND(MIN(l_extendedprice), 6) AS min_price,
           ROUND(MAX(l_extendedprice), 6) AS max_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("D1",),
)
def q_agg_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregate: the per-class prediction counts of
    the reference's evaluation [PK], generalized."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 6).alias("sum_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.round(F.min("l_extendedprice"), 6).alias("min_price"),
            F.round(F.max("l_extendedprice"), 6).alias("max_price"),
        )
    )


@register(
    "q_agg_global",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           ROUND(AVG(l_quantity), 6) AS avg_qty
    FROM lineitem
    """,
    tags=("D2",),
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless global aggregate (the overall-accuracy scalar of §3.3)."""
    return t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
        F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
    )


@register(
    "q_agg_conditional",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
           ROUND(SUM(CASE WHEN o_totalprice > 150000 THEN o_totalprice ELSE 0 END), 6)
               AS big_total
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("D3",),
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates — per-class hit counts of the reference."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
            F.round(
                F.sum(F.when(F.col("o_totalprice") > 150000, F.col("o_totalprice")).otherwise(0)),
                6,
            ).alias("big_total"),
        )
    )


@register(
    "q_agg_distinct",
    oracle="""
    SELECT n.n_name,
           COUNT(DISTINCT c.c_mktsegment) AS n_segments,
           COUNT(DISTINCT c.c_custkey) AS n_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    tags=("D4",),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates per group (expand-based two-distinct plan)."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.countDistinct("c_mktsegment").alias("n_segments"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@register("q_agg_hll_sketch", oracle=None, tags=("D5", "rows-only"))
def q_agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketches (Apache DataSketches): per-group sketches
    union'd into a global estimate — THE pattern for distinct counts
    over partitioned 100 TB data (per-partition sketches persist, any
    rollup is a cheap union, no re-scan). Estimate bound-tested in
    tests/test_approx.py."""
    li = t(spark, sf_dir, "lineitem")
    per_flag = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_orderkey").alias("sk"),
        F.hll_sketch_estimate(F.hll_sketch_agg("l_orderkey")).alias("est_per_flag"),
    )
    return per_flag.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_total"),
        F.round(F.sum("est_per_flag"), 1).alias("sum_of_group_ests"),
    )


@register("q_agg_approx_distinct", oracle=None, tags=("D5", "rows-only"))
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ cardinality — THE 100-TB distinct (constant memory
    vs a full distinct's shuffle). Approx ⇒ rows-only; pytest bounds its
    error vs the exact count instead (tests/test_approx.py)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"))
    )


@register(
    "q_pivot_confusion",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
           COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
           COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("D6",),
)
def q_pivot_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot → the confusion-matrix crosstab of the reference [PK].
    Pivot values are passed explicitly: at scale, never let Spark run the
    extra distinct job to discover them."""
    pri = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", pri)
        .count()
        .na.fill(0)
    )


@register(
    "q_agg_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    tags=("D7",),
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup with grouping ids (subtotals by year/class analog)."""
    return (
        t(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            (
                F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")
            ).alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


@register(
    "q_agg_collect",
    oracle="""
    SELECT c_mktsegment,
           STRING_AGG(DISTINCT n_name, ',' ORDER BY n_name) AS nations
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment
    """,
    tags=("D8",),
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set compared order-insensitively: sorted + joined to one
    string so both engines hash identically (SURVEY §7 risk 3)."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_mktsegment")
        .agg(F.array_join(F.sort_array(F.collect_set("n_name")), ",").alias("nations"))
    )


@register(
    "q_agg_percentile",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
           ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("D9",),
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines use continuous
    interpolation; approx_percentile is the 100-TB variant, bench-only)."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 6).alias("median_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        )
    )


@register(
    "q_agg_stats",
    oracle="""
    SELECT l_linestatus,
           ROUND(STDDEV_SAMP(l_quantity), 6) AS sd_qty,
           ROUND(VAR_SAMP(l_discount), 6) AS var_disc,
           ROUND(CORR(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_linestatus
    """,
    tags=("D10",),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments + correlation per group."""
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
            F.round(F.var_samp("l_discount"), 6).alias("var_disc"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        )
    )


@register(
    "q_agg_minby",
    oracle="""
    SELECT o_orderstatus,
           MIN_BY(o_orderkey, epoch(o_orderdate) * 1000000 + o_orderkey) AS earliest_key,
           MAX_BY(o_orderkey, o_orderkey) AS max_key,
           ANY_VALUE(o_orderstatus) AS status_echo
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("D11",),
)
def q_agg_minby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by/any_value — representative-row-per-group.
    Determinism care: min_by over a tying comparand picks an arbitrary
    row per engine, so the unique orderkey is folded into an integer
    comparand (epoch·10⁶ + key, exact in int64); any_value is made
    deterministic by echoing the group key itself."""
    o = t(spark, sf_dir, "orders")
    comparand = F.unix_timestamp("o_orderdate") * F.lit(1000000) + F.col("o_orderkey")
    return o.groupBy("o_orderstatus").agg(
        F.min_by("o_orderkey", comparand).alias("earliest_key"),
        F.max_by("o_orderkey", "o_orderkey").alias("max_key"),
        F.any_value("o_orderstatus").alias("status_echo"),
    )


@register(
    "q_agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           GROUPING(o_orderstatus) + 2 * GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("D7",),
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cube: all 2^k grouping combinations in one pass (Expand operator
    multiplies rows by 4 here — at 100 TB prefer explicit grouping sets
    of just the combinations you need, q_agg_grouping_sets)."""
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            (F.grouping("o_orderstatus") + F.lit(2) * F.grouping("o_orderpriority")).alias(
                "gid"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    tags=("D7",),
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets — only the needed combinations."""
    return t(spark, sf_dir, "orders").groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]], "o_orderstatus", "o_orderpriority"
    ).agg(F.count("*").alias("n"))


@register(
    "q_unpivot",
    oracle="""
    WITH wide AS (
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
               COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
        FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, 'urgent' AS priority, urgent AS n FROM wide
    UNION ALL
    SELECT o_orderstatus, 'low' AS priority, low AS n FROM wide
    """,
    tags=("D12",),
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide confusion-matrix columns back to long rows."""
    wide = (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("urgent"),
            F.count_if(F.col("o_orderpriority") == "5-LOW").alias("low"),
        )
    )
    return wide.unpivot("o_orderstatus", ["urgent", "low"], "priority", "n")


@register(
    "q_profile_table",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(DISTINCT o_orderstatus) AS n_statuses,
           COUNT(DISTINCT o_orderpriority) AS n_priorities,
           CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS min_price_c,
           CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS max_price_c,
           MIN(CAST(o_orderdate AS DATE)) AS min_date,
           MAX(CAST(o_orderdate AS DATE)) AS max_date
    FROM orders
    """,
    tags=("D4", "D2"),
)
def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profile: row count, per-column cardinalities,
    exact min/max ranges — the schema-inspection primitive every
    ingestion pipeline runs first. Three COUNT DISTINCTs in ONE
    aggregate exercise Spark's Expand-based multi-distinct rewrite
    (each distinct column gets its own grouping stream, single scan).
    Scale: distinct-heavy profiling over 100 TB would swap exact
    distincts for D5's approx_count_distinct — same query shape."""
    o = t(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    return o.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.min(price_c).alias("min_price_c"),
        F.max(price_c).alias("max_price_c"),
        F.min(F.col("o_orderdate").cast("date")).alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_date"),
    )


@register(
    "q_agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 25000) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(MIN(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS min_c,
           CAST(MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS max_c
    FROM orders GROUP BY bin
    """,
    tags=("D1",),
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram (bin = ⌊price/25k⌋) with exact
    per-bin cent ranges — the distribution-sketch primitive behind
    every profiling UI. Bin edges are exact-representable doubles, so
    edge rows bin identically on both engines. One two-phase agg."""
    o = t(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    return (
        o.select(
            F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bin"),
            price_c.alias("pc"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("pc").alias("min_c"),
            F.max("pc").alias("max_c"),
        )
    )


@register(
    "q_observe_metrics",
    oracle="""
    SELECT l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
                AS BIGINT) AS sum_price_c
    FROM lineitem
    WHERE l_quantity >= 25
    GROUP BY l_linestatus
    """,
    tags=("D1", "A5"),
)
def q_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Observation API: df.observe() attaches named aggregate
    metrics (row count, sum) that are collected DURING execution of the
    main query — the zero-extra-pass audit counters a production
    pipeline emits (rows read, bytes billed) without a second scan.
    The observed metrics ride the same physical plan; the query output
    is unchanged and oracle-checked, and tests assert the observation
    values equal an independent aggregation."""
    from pyspark.sql import Observation

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 25)
    obs = Observation("audit")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(cents("l_extendedprice")).alias(
            "cents_seen"
        ),
    )
    return observed.groupBy("l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(cents("l_extendedprice")).alias(
            "sum_price_c"
        ),
    )


_CMS_SEEDS, _CMS_WIDTH = 4, 512
_CMS_PROBES = ("join", "filter", "merge", "window", "zzz_absent")


def _cms_oracle() -> str:
    """Count-min oracle: the same md5-derived hash family, as SQL."""

    def bucket(seed: int, w: str) -> str:
        return (
            f"CAST('0x' || substr(md5('{seed}' || {w}), 1, 8) AS BIGINT) % {_CMS_WIDTH}"
        )

    b_rows = "\n      UNION ALL ".join(
        f"SELECT {s} AS seed, {bucket(s, 'w')} AS bucket FROM toks"
        for s in range(_CMS_SEEDS)
    )
    pb_rows = "\n      UNION ALL ".join(
        f"SELECT w, {s} AS seed, {bucket(s, 'w')} AS bucket FROM probes"
        for s in range(_CMS_SEEDS)
    )
    vals = ", ".join(f"('{p}')" for p in _CMS_PROBES)
    return f"""
    WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    b AS ({b_rows}),
    sk AS (SELECT seed, bucket, COUNT(*) AS c FROM b GROUP BY seed, bucket),
    probes(w) AS (VALUES {vals}),
    pb AS ({pb_rows}),
    est AS (
        SELECT pb.w, MIN(COALESCE(sk.c, 0)) AS cms_est
        FROM pb LEFT JOIN sk ON sk.seed = pb.seed AND sk.bucket = pb.bucket
        GROUP BY pb.w),
    tr AS (SELECT w, COUNT(*) AS true_n FROM toks GROUP BY w)
    SELECT est.w AS word,
           CAST(COALESCE(tr.true_n, 0) AS BIGINT) AS true_n,
           CAST(est.cms_est AS BIGINT) AS cms_est
    FROM est LEFT JOIN tr ON tr.w = est.w
    """


@register("q_agg_countmin", oracle=_cms_oracle(), tags=("D5", "S"))
def q_agg_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch, relationally: 4 md5-derived hash rows × 512
    buckets built in ONE map-side pass (stack(), no fanout join), point
    queries answered by MIN over each probe's 4 counters. The
    fixed-size counter table is the 100-TB heavy-hitter primitive when
    exact per-token counts don't fit; CMS never undercounts, and the
    output exposes (true_n, cms_est) side by side so the overestimate
    property is visible (probe 'zzz_absent': true 0, est = collision
    mass). Hash family is portable (md5-hex→int), so unlike the HLL
    sketch this approximate structure is EXACTLY oracle-checkable."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("w"))

    def bucket(seed: int, col):
        h = md5_int(F.concat(F.lit(str(seed)), col), 8)
        return (h % _CMS_WIDTH).alias(f"b{seed}")

    stack_args = ", ".join(f"{s}, b{s}" for s in range(_CMS_SEEDS))
    b = toks.select(*[bucket(s, F.col("w")) for s in range(_CMS_SEEDS)]).selectExpr(
        f"stack({_CMS_SEEDS}, {stack_args}) AS (seed, bucket)"
    )
    sk = b.groupBy("seed", "bucket").agg(F.count("*").alias("c"))
    probes = local_df(spark, [(p,) for p in _CMS_PROBES], "w string")
    pb = probes.select(
        "w", *[bucket(s, F.col("w")) for s in range(_CMS_SEEDS)]
    ).selectExpr("w", f"stack({_CMS_SEEDS}, {stack_args}) AS (seed, bucket)")
    est = (
        pb.join(sk, ["seed", "bucket"], "left")
        .select("w", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .groupBy("w")
        .agg(F.min("c").alias("cms_est"))
    )
    tr = toks.groupBy("w").agg(F.count("*").alias("true_n"))
    return est.join(tr, "w", "left").select(
        F.col("w").alias("word"),
        F.coalesce(F.col("true_n"), F.lit(0)).cast("bigint").alias("true_n"),
        F.col("cms_est").cast("bigint").alias("cms_est"),
    )


@register("q_agg_approx_percentile", oracle=None, tags=("D9", "D5", "rows-only"))
def q_agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch) — the 100-TB
    quantile: constant memory per group, mergeable partials, no global
    sort (q_agg_percentile's exact interpolation needs one). Sketch
    estimates are engine-specific ⇒ rows-only; the rank-error bound vs
    the exact percentile is asserted in tests/test_approx.py.

    Output is posexploded to SCALAR rows (pct, approx_value) — the
    driver's canonicalizer sorts the raw frame before hashing and an
    ARRAY cell crashes it (round-10 red slot: numpy.ndarray is
    unhashable). Scalar rows are also the shape a downstream join
    wants; the array spelling saved nothing."""
    li = t(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.95)), 10000
        ).alias("qarr"),
        F.count("*").alias("n"),
    )
    return agg.select(
        "l_returnflag",
        F.posexplode("qarr").alias("pos", "approx_value"),
        "n",
    ).select(
        "l_returnflag",
        F.element_at(
            F.array(F.lit(25), F.lit(50), F.lit(95)), F.col("pos") + 1
        ).alias("pct"),
        F.col("approx_value").cast("double").alias("approx_value"),
        F.col("n").cast("bigint").alias("n"),
    )


@register(
    "q_agg_mode",
    oracle="""
    WITH freq AS (
        SELECT event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT event_type, cents, n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY n DESC, cents) AS rk
        FROM freq
    )
    SELECT event_type, cents AS mode_cents, CAST(n AS BIGINT) AS n_occurrences
    FROM ranked WHERE rk = 1
    """,
    tags=("D1", "F4"),
)
def q_agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC statistical mode per group — the most frequent
    value with the tie broken toward the SMALLEST value. The built-in
    ``mode()`` aggregate is explicitly nondeterministic on ties in
    both engines (each returns "any" modal value), so the oracle-safe
    spelling is frequencies + rank — two hash aggregates sharing the
    group key and a window over the per-group VALUE DOMAIN (not rows).
    At 100 TB the first aggregate map-side combines, and the ranked
    frame is |group × distinct-values| — the standard exact-mode
    dataflow (sketch-based heavy-hitters take over only when the value
    domain itself explodes; that path is q_agg_countmin)."""
    freq = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            cents("value").alias("cents"),
        )
        .agg(F.count("*").alias("n"))
    )
    ranked = freq.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.desc("n"), F.asc("cents"))
        ),
    )
    return ranked.filter(F.col("rk") == 1).select(
        "event_type",
        F.col("cents").alias("mode_cents"),
        F.col("n").cast("bigint").alias("n_occurrences"),
    )


@register(
    "q_agg_weighted_median",
    oracle="""
    WITH li AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l_quantity AS BIGINT) AS w
        FROM lineitem
    ),
    c AS (
        SELECT grp, cents, w,
               SUM(w) OVER (PARTITION BY grp ORDER BY cents) AS cw,
               SUM(w) OVER (PARTITION BY grp) AS tw
        FROM li
    )
    SELECT grp,
           CAST(MIN(tw) AS BIGINT) AS total_w,
           CAST(MIN(cents) AS BIGINT) AS wmedian_cents
    FROM c
    WHERE 2 * cw >= tw
    GROUP BY grp
    """,
    tags=("D9", "E3"),
)
def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group (lower weighted median: the
    smallest value v where the cumulative weight of all rows with
    value ≤ v reaches half the total, 2·cw ≥ W in pure integers) —
    the aggregate behind quantity-weighted price statistics that
    plain percentile() cannot express. Determinism under ties comes
    free from RANGE window semantics: both engines' default
    cumulative frame with ORDER BY cents includes ALL peers of the
    current value, so equal prices share one cw regardless of their
    physical order — no tiebreak column needed.

    Plan: one per-group sort window for the running weight + the
    group-total window on the same exchange (same partition key →
    ONE shuffle), then a filter and a tiny final aggregate. At scale
    the same two-pass trick as exact percentiles applies: a coarse
    weighted histogram first, then a windowed pass over only the
    bucket containing the median."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        cents("l_extendedprice").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    c = li.select(
        "grp",
        "cents",
        F.sum("w").over(Window.partitionBy("grp").orderBy("cents")).alias("cw"),
        F.sum("w").over(Window.partitionBy("grp")).alias("tw"),
    )
    return (
        c.filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy("grp")
        .agg(
            F.min("tw").cast("bigint").alias("total_w"),
            F.min("cents").cast("bigint").alias("wmedian_cents"),
        )
    )


@register(
    "q_agg_listagg",
    oracle="""
    SELECT n_regionkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           string_agg(n_name, ',' ORDER BY n_name) AS members
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("D8",),
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG / STRING_AGG (SQL:2016, native in Spark 4.0+): ordered
    string concatenation per group — the report-friendly sibling of
    collect_list that needs no array post-processing, with a WITHIN
    GROUP order making the value deterministic (an unordered listagg
    is concurrency-dependent and could never hash-match). Emitted as
    a string, so it is driver-sortable by construction.

    Plan: one groupBy shuffle; the ordered aggregation buffers only
    each group's members. At scale the same caveat as collect_list
    applies — the group's concatenation must fit in memory, so this
    is a dimension-table / post-aggregation operator, never a
    fact-table one (the docstring contract the repo's other
    collect-style ops carry)."""
    return (
        t(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("members"),
        )
    )


@register(
    "q_agg_bool",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(bool_and(o_totalprice > 1000) AS BIGINT) AS all_over_1k,
           CAST(bool_or(o_totalprice > 400000) AS BIGINT) AS any_over_400k,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_final
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("D3",),
)
def q_agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (BOOL_AND/BOOL_OR, a.k.a. EVERY/ANY): the
    constraint-check aggregation shape behind data-quality assertions
    ("every order in the tier is priced", "any order breached the
    cap") — emitted as BIGINT 0/1 so the cross-engine dtype is pinned
    (pandas bool columns hash differently from int across engines'
    drivers). One partial+final hash aggregate; AND/OR combine
    map-side like any semilattice."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n"),
        F.bool_and(F.col("o_totalprice") > 1000).cast("bigint").alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).cast("bigint").alias("any_over_400k"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("n_final"),
    )


@register(
    "q_reshape_transpose",
    oracle="""
    WITH base AS (
        SELECT r_name,
               (SELECT COUNT(*) FROM nation n
                WHERE n.n_regionkey = r.r_regionkey) AS n_nations,
               (SELECT COUNT(*) FROM customer c JOIN nation n
                   ON c.c_nationkey = n.n_nationkey
                WHERE n.n_regionkey = r.r_regionkey) AS n_cust,
               (SELECT COUNT(*) FROM supplier s JOIN nation n
                   ON s.s_nationkey = n.n_nationkey
                WHERE n.n_regionkey = r.r_regionkey) AS n_supp
        FROM region r
    )
    SELECT k AS key,
           CAST(MAX(CASE WHEN r_name = 'AFRICA' THEN v END) AS BIGINT)
               AS "AFRICA",
           CAST(MAX(CASE WHEN r_name = 'AMERICA' THEN v END) AS BIGINT)
               AS "AMERICA",
           CAST(MAX(CASE WHEN r_name = 'ASIA' THEN v END) AS BIGINT)
               AS "ASIA",
           CAST(MAX(CASE WHEN r_name = 'EUROPE' THEN v END) AS BIGINT)
               AS "EUROPE",
           CAST(MAX(CASE WHEN r_name = 'MIDDLE EAST' THEN v END) AS BIGINT)
               AS "MIDDLE EAST"
    FROM base
    UNPIVOT (v FOR k IN (n_nations, n_cust, n_supp))
    GROUP BY k ORDER BY k
    """,
    tags=("D12",),
)
def q_reshape_transpose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix transpose of a summary frame (Spark 4
    ``DataFrame.transpose()``): the per-region entity census flips so
    METRICS become rows and regions become columns — the
    presentation-layer reshape every BI hand-off wants, expressed as
    one API call instead of an unpivot + pivot pair. Transpose is
    driver-bounded by construction (the input is a 5-row aggregate;
    the result's column count = input row count, and Spark collects
    the index column to name them) — the 100-TB shape is agg-first,
    transpose-last, never transpose of a fact table. The oracle is
    the equivalent UNPIVOT + conditional-aggregation pivot."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    nr = n.join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "r_name")
    nations = nr.groupBy("r_name").agg(F.count("*").alias("n_nations"))
    cust = (
        c.join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        s.join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("r_name")
        .agg(F.count("*").alias("n_supp"))
    )
    base = (
        nations.join(cust, "r_name")
        .join(supp, "r_name")
        .orderBy("r_name")  # row order becomes column order
        .select("r_name", "n_nations", "n_cust", "n_supp")
    )
    return base.transpose()


@register(
    "q_agg_approx_topk",
    oracle="""
    SELECT w AS item, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w ORDER BY cnt DESC, item LIMIT 8
    """,
    tags=("D5", "F4"),
)
def q_agg_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via the `approx_top_k` sketch (Spark 4): the
    mergeable frequent-items summary that replaces a full
    groupBy+orderBy when only the top of the distribution matters —
    each partition keeps a bounded item→count table, partials merge
    associatively, and the driver never sees more than maxItemsTracked
    entries. EXACT here by capacity: the fixture vocabulary (31 words)
    is far under the 10,000-item budget, so no eviction ever happens
    and every count is the true count — which is what lets this be
    oracle-checked instead of rows-only (the same argument real
    pipelines use to validate a sketch config on a bounded key
    domain). k=8 is chosen tie-free at both fixture SFs (the 8th and
    9th true counts differ), so the returned SET is deterministic even
    though the sketch breaks ties arbitrarily. At 100 TB: sketch
    merging ships O(capacity) per partition instead of the full NDV
    shuffle of q_topk_freq — the standard trade when NDV explodes."""
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.expr("approx_top_k(w, 8, 10000)").alias("tk"))
        .select(F.inline("tk"))
        .select(F.col("item"), F.col("count").cast("bigint").alias("cnt"))
    )


def _select_exact_ranks(
    pts: DataFrame, targets: dict[str, tuple[str, int, int, int]], B: int = 4096
) -> dict[str, int]:
    """Shared engine for exact rank selection by histogram narrowing
    (used by q_agg_quantile_select and q_agg_group_median_select —
    ONE copy of the boundary math). ``pts`` has columns (g, cents);
    ``targets`` maps a tag to (group, lo, hi, k) = "the value of rank
    k within [lo, hi] of group g". All still-active targets share each
    round's single (tag, bucket) aggregate: facts broadcast-join the
    per-target state on the group key and bucket by b = (cents − lo)
    DIV step with step = ceil(width/B) — a pure division, so the math
    cannot overflow BIGINT on any value domain (the earlier
    (cents−lo)·B spelling wrapped past ~2⁵⁵-wide domains). Bucket b
    covers [lo + b·step, lo + (b+1)·step − 1]; ≤ B ids by
    construction. Converged targets (range ≤ 4096) resolve together
    in one batched value census. Driver state: one (lo, hi, k) triple
    per target.

    B = 4096 (round 12; was 256): each narrowing ROUND is a full pass
    over ``pts`` plus a driver barrier, so rounds — not histogram
    width — are the scarce resource. 4096 buckets resolve any
    practical cents domain (≤ 2^24) in ONE round instead of two, and a
    full 2^63 domain in 5 rounds instead of 7. Cost side: the shuffle
    still carries ≤ B partial rows per mapper per target (map-side
    combine), and the driver collect is ≤ B·|targets| ≈ 37 k rows for
    the 9-target robust-scale case — both trivially bounded at any
    data scale because B is a constant."""
    done: dict[str, int] = {}
    state = dict(targets)
    while state:
        small = {
            tag: s for tag, s in state.items() if s[2] - s[1] + 1 <= 4096
        }
        active = {tag: s for tag, s in state.items() if tag not in small}
        if small:
            st = local_df(
                pts.sparkSession,
                [(tag, g, lo, hi) for tag, (g, lo, hi, _) in small.items()],
                "tag STRING, g STRING, lo BIGINT, hi BIGINT",
            )
            census = (
                pts.join(F.broadcast(st), "g")
                .filter(F.col("cents").between(F.col("lo"), F.col("hi")))
                .groupBy("tag", "cents")
                .agg(F.count("*").alias("c"))
                .collect()  # bounded: ≤ 4096 distinct values per target
            )
            by_tag: dict[str, list] = {}
            for r in census:
                by_tag.setdefault(r["tag"], []).append(
                    (int(r["cents"]), int(r["c"]))
                )
            for tag, (_, _, _, k) in small.items():
                cum = 0
                for v, c in sorted(by_tag.get(tag, [])):
                    if cum + c >= k:
                        done[tag] = v
                        break
                    cum += c
        if not active:
            break
        steps = {
            tag: (hi - lo + B) // B  # ceil(width / B), width = hi-lo+1
            for tag, (_, lo, hi, _) in active.items()
        }
        st = local_df(
            pts.sparkSession,
            [
                (tag, g, lo, hi, steps[tag])
                for tag, (g, lo, hi, _) in active.items()
            ],
            "tag STRING, g STRING, lo BIGINT, hi BIGINT, step BIGINT",
        )
        hist = (
            pts.join(F.broadcast(st), "g")
            .filter(F.col("cents").between(F.col("lo"), F.col("hi")))
            .groupBy("tag", F.expr("(cents - lo) DIV step").alias("b"))
            .agg(F.count("*").alias("c"))
            .collect()  # bounded: ≤ B rows per active target
        )
        by_tag2: dict[str, dict[int, int]] = {}
        for r in hist:
            by_tag2.setdefault(r["tag"], {})[int(r["b"])] = int(r["c"])
        state = {}
        for tag, (g, lo, hi, k) in active.items():
            step = steps[tag]
            cum = 0
            for b in range(B):
                c = by_tag2.get(tag, {}).get(b, 0)
                if cum + c >= k:
                    state[tag] = (
                        g,
                        lo + b * step,
                        min(hi, lo + (b + 1) * step - 1),
                        k - cum,
                    )
                    break
                cum += c
    return done


def select_group_quantiles(
    pts: DataFrame, qs: tuple[int, ...]
) -> tuple[dict[str, tuple[int, int, int]], dict[str, int]]:
    """Bounds-collect → ceil-rank targets → _select_exact_ranks, the
    setup shared by q_agg_group_median_select and q_feat_robust_scale
    (ONE copy of the rank convention, like the
    boundary math below it). ``pts`` has columns (g, cents); ``qs``
    are percentiles. Returns (init, values): init[g] = (lo, hi, n),
    values[f"{g}:{q}"] = the exact value of rank ceil(q·n/100) in g."""
    init = {
        r["g"]: (int(r["lo"]), int(r["hi"]), int(r["n"]))
        for r in pts.groupBy("g")
        .agg(
            F.min("cents").alias("lo"), F.max("cents").alias("hi"),
            F.count("*").alias("n"),
        )
        .collect()  # bounded: one row per group
    }
    targets = {
        f"{g}:{q}": (g, lo, hi, (n * q + 99) // 100)
        for g, (lo, hi, n) in init.items()
        for q in qs
    }
    return init, _select_exact_ranks(pts, targets)


@register(
    "q_agg_quantile_select",
    oracle="""
    WITH c AS (
        SELECT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM c),
    ks AS (
        SELECT q, CAST((cnt * q + 99) // 100 AS BIGINT) AS k
        FROM n CROSS JOIN (VALUES (50), (90), (99)) AS v(q)
    ),
    ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c
    )
    SELECT CAST(ks.q AS BIGINT) AS q, ks.k, r.cents AS value
    FROM ks JOIN ranked r ON r.rn = ks.k
    ORDER BY q
    """,
    tags=("D9", "F2", "scale"),
)
def q_agg_quantile_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT QUANTILES BY SELECTION, NOT SORT — the 100-TB spelling of
    percentile_disc: find the value at rank k = ceil(q·n/100) by
    iterative histogram narrowing (Blum-style distributed selection)
    instead of a global sort. Each round: ONE map-side-combined
    256-bucket histogram shared by all three quantiles (each carries
    its own [lo, hi, k] state; the shuffle moves ≤ 256 partial rows
    per mapper per target, never data rows), the driver walks the
    cumulative counts, and each range narrows ×256 — a 2⁶³ domain
    needs ≤ 8 rounds of O(n) map work (bucketing is a pure DIV by a
    precomputed step, overflow-free on any domain) and the final
    value census is ≤ 4096 grouped rows per quantile. A global sort
    exchanges the ENTIRE fact table; selection never moves a data row.
    Exactness (bit-equal to the sort-based oracle, ties included) is
    what approx_percentile trades away. The projection is pinned for
    the ~4 bounded passes; the result is driver-built, so nothing keeps
    the pin's lineage alive past return."""
    pts = pin(
        t(spark, sf_dir, "lineitem").select(
            F.lit("_").alias("g"),
            cents("l_extendedprice").alias("cents"),
        ),
        "q_agg_quantile_select.pts",
    )
    stats = pts.agg(
        F.count("*").alias("n"), F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
    ).collect()[0]
    n, lo, hi = int(stats["n"]), int(stats["lo"]), int(stats["hi"])
    targets = {
        str(q): ("_", lo, hi, (n * q + 99) // 100) for q in (50, 90, 99)
    }
    got = _select_exact_ranks(pts, targets)
    out = [(q, (n * q + 99) // 100, got[str(q)]) for q in (50, 90, 99)]
    return local_df(spark, out, "q BIGINT, k BIGINT, value BIGINT")


# Per group g of ``c`` (g, cents): its size cnt (n) and each row's rank
# rn by cents (ranked), the oracle twin of ``select_group_quantiles``.
_GROUP_RANKS_SQL = """n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY g),
    ranked AS (
        SELECT g, cents,
               ROW_NUMBER() OVER (PARTITION BY g ORDER BY cents) AS rn
        FROM c
    )"""


@register(
    "q_agg_group_median_select",
    oracle=f"""
    WITH c AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
    ),
    {_GROUP_RANKS_SQL}
    SELECT n.g AS g, n.cnt AS n, CAST((n.cnt + 1) // 2 AS BIGINT) AS k,
           r.cents AS median_c
    FROM n JOIN ranked r
      ON r.g = n.g AND r.rn = (n.cnt + 1) // 2
    ORDER BY n.g
    """,
    tags=("D9", "scale"),
)
def q_agg_group_median_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT PER-GROUP MEDIAN BY SELECTION — the skew-proof spelling of
    GROUP BY + percentile_disc(0.5): the sort-based plan shuffles
    every row of a group to ONE reducer and sorts there (a single hot
    key at 100 TB is a straggler or an OOM); histogram selection
    never co-locates a group at all. Shares _select_exact_ranks with
    the global quantile query — per-group [lo, hi, k] state
    broadcast onto one (group, bucket) aggregate per round (division
    bucketing, overflow-free), groups dropping out as they converge.
    Same exactness contract (bit-equal to the sort-based oracle, ties
    included), generalized to the grouped case where the sort plan's
    skew actually bites."""
    pts = pin(
        t(spark, sf_dir, "lineitem").select(
            F.col("l_returnflag").alias("g"),
            cents("l_extendedprice").alias("cents"),
        ),
        "q_agg_group_median_select.pts",
    )
    init, got = select_group_quantiles(pts, (50,))
    out = [
        (g, init[g][2], (init[g][2] * 50 + 99) // 100, got[f"{g}:50"])
        for g in sorted(init)
    ]
    return local_df(
        spark, out, "g STRING, n BIGINT, k BIGINT, median_c BIGINT"
    )


KMV_K = 256  # k-minimum-values sketch size


@register(
    "q_agg_kmv_distinct",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT
               ('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 10))
                 ::BIGINT AS hv
        FROM orders
    ),
    ranked AS (
        SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk FROM h
    ),
    sk AS (
        SELECT MAX(hv) AS hk, CAST(COUNT(*) AS BIGINT) AS nk
        FROM ranked WHERE rk <= {KMV_K}
    ),
    est AS (
        SELECT hk, nk,
               CASE WHEN nk < {KMV_K} THEN nk
                    ELSE ({KMV_K} - 1) * 1099511627776 // hk END AS e
        FROM sk
    ),
    truth AS (
        SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_true
        FROM orders
    )
    SELECT CAST({KMV_K} AS BIGINT) AS k,
           CAST(est.nk AS BIGINT) AS n_in_sketch,
           CAST(est.hk AS BIGINT) AS h_k,
           CAST(est.e AS BIGINT) AS est_distinct,
           truth.n_true,
           CAST(ABS(est.e - truth.n_true) * 10000 // truth.n_true
                AS BIGINT) AS abs_err_e4
    FROM est, truth
    """,
    tags=("D5", "S"),
)
def q_agg_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) DISTINCT sketch (Bar-Yossef et al. 2002
    [PK]) — the ORACLE-CHECKABLE rung in the approximate-distinct
    ladder, the q_knn_sq8 move applied to the D5 sketch family:
    approx_count_distinct's HLL is engine-internal (rows-only by
    nature), but KMV built on the portable 40-bit md5 hash (the
    q_agg_countmin family) is a PURE FUNCTION OF THE DATA — the k
    smallest hash values of a set do not depend on partitioning,
    merge order, or engine, so DuckDB computes the IDENTICAL sketch
    and the driver hash-checks the estimate itself, not just its
    error band. Estimator: with h_(k) the k-th smallest of the
    distinct hashes mapped into [0, 2^40), est = (k-1) * 2^40 / h_(k)
    (the unbiased KMV form), reported beside the exact distinct count
    and the integer e4 relative error; a set SMALLER than k does not
    fill the sketch, in which case KMV degenerates (by definition) to
    the EXACT count of hashes seen — the standard small-set branch,
    exercised by the sf0.001 fixture (150 < 256 distinct keys).

    Merge contract (extends the round-11 GK-vs-HLL finding): KMV is
    layout-INVARIANT like HLL (k-smallest of a union is associative/
    commutative/idempotent) and UNLIKE percentile_approx's GK — a KMV
    sketch cached per partition can be re-merged under ANY future
    layout with bit-identical results; the pytest twin pins this by
    recomputing the sketch under shuffled input order.

    Plan at 100 TB: map-side DISTINCT on the 8-byte hash, then a
    global k-smallest — TakeOrdered-shaped, never a full sort; the
    sketch state is k * 8 bytes regardless of cardinality."""
    h = (
        t(spark, sf_dir, "orders")
        .select(
            md5_int(F.col("o_custkey").cast("string"), 10).alias("hv")
        )
        .distinct()
    )
    sk = (
        h.orderBy("hv")
        .limit(KMV_K)
        .agg(F.max("hv").alias("hk"), F.count("*").cast("bigint").alias("nk"))
    )
    est = sk.select(
        "hk",
        "nk",
        F.expr(
            f"CASE WHEN nk < {KMV_K} THEN nk"
            f" ELSE ({KMV_K} - 1) * 1099511627776 div hk END"
        ).alias("e"),
    )
    truth = t(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("n_true")
    )
    return est.crossJoin(F.broadcast(truth)).select(
        F.lit(KMV_K).cast("bigint").alias("k"),
        F.col("nk").alias("n_in_sketch"),
        F.col("hk").cast("bigint").alias("h_k"),
        F.col("e").cast("bigint").alias("est_distinct"),
        "n_true",
        F.expr(
            "CAST(ABS(e - n_true) * 10000 div n_true AS BIGINT)"
        ).alias("abs_err_e4"),
    )
