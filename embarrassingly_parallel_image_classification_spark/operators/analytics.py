"""Dominance, sequence, allocation and concentration analytics —
operator families a warehouse-grade engine ships that are not
reducible to the join/agg/window queries elsewhere in the registry
[PK]:

  * q_skyline       — Pareto frontier (skyline) of parts on
                      (price min, size max), via the canonical
                      two-phase distributed skyline plan;
  * q_seq_pattern   — MATCH_RECOGNIZE-style regex over per-user event
                      sequences (funnel generalized to arbitrary
                      patterns);
  * q_alloc_prorata — largest-remainder proportional allocation
                      (billing/settlement: spread an order total across
                      its lines so cents sum back exactly);
  * q_pareto_8020   — revenue-concentration cut (how many top
                      customers cover 80% of each segment);
  * q_markov_transitions — first-order event-journey transition
                      matrix (the behavioral model behind next-action
                      prediction and journey simulation);
  * q_rfm_segments  — recency/frequency/monetary quartile
                      segmentation (the classic CRM operator);
  * q_ab_test       — EXACT two-sample mean-difference test decided
                      entirely in integer/decimal arithmetic;
  * q_bitmap_audience — audience-overlap via 64-bit bitmap words
                      (the roaring-bitmap set-intersection shape).

All are pure-SQL/JVM plans with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import pin
from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_skyline",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
               p_size
        FROM part
    )
    SELECT q.p_partkey, q.price_c, q.p_size
    FROM p q
    WHERE NOT EXISTS (
        SELECT 1 FROM p o
        WHERE o.price_c <= q.price_c AND o.p_size >= q.p_size
          AND (o.price_c < q.price_c OR o.p_size > q.p_size)
    )
    """,
    tags=("F", "E3", "composite"),
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier: parts not dominated on (cheaper,
    bigger) — the multi-objective shortlist operator (Börzsönyi's
    SKYLINE OF [PK]). The oracle is the O(n²) NOT-EXISTS definition;
    the Spark plan is the scale formulation:

    1. distinct (price, size) pairs (one shuffle — dominance only
       depends on the pair, so |pairs| << |rows| dedups first);
    2. LOCAL skyline per partition: sort (price asc, size desc) and
       keep rows whose size exceeds the running max of all strictly
       preceding rows — over DISTINCT pairs this running-max test is
       exactly non-dominance, and a global skyline point is a local
       skyline point under ANY partitioning, so phase 2's input is a
       small superset of the answer;
    3. GLOBAL skyline of the union of local skylines — same test on
       one partition, bounded by the candidate set (frontier-sized,
       not data-sized);
    4. broadcast the frontier pairs back to recover every part that
       carries a frontier (price, size) — ties on both dims are all
       non-dominated and all returned.
    """
    p = t(spark, sf_dir, "part").select(
        "p_partkey",
        cents("p_retailprice").alias("price_c"),
        "p_size",
    )
    pairs = p.select("price_c", "p_size").distinct()

    def undominated(df: DataFrame, *partition_cols: str) -> DataFrame:
        w = (
            Window.partitionBy(*partition_cols)
            .orderBy(F.asc("price_c"), F.desc("p_size"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn("__prev_max", F.max("p_size").over(w))
            .filter(
                F.col("__prev_max").isNull()
                | (F.col("__prev_max") < F.col("p_size"))
            )
            .drop("__prev_max")
        )

    local = undominated(pairs.withColumn("__pid", F.spark_partition_id()), "__pid").drop(
        "__pid"
    )
    # the candidate union is frontier-sized: the single-partition
    # window here scans |local skylines|, never |data|
    frontier = undominated(local.withColumn("__g", F.lit(0)), "__g").drop("__g")
    return p.join(F.broadcast(frontier), ["price_c", "p_size"]).select(
        "p_partkey", "price_c", "p_size"
    )


@register(
    "q_seq_pattern",
    oracle="""
    WITH j AS (
        SELECT user_id,
               string_agg(upper(substring(event_type, 1, 1)), ''
                          ORDER BY ts, event_id) AS journey,
               COUNT(*) AS n_events
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(strpos(journey, 'S') AS BIGINT) AS sig_pos,
           CAST(length(journey) - length(replace(journey, 'P', ''))
                AS BIGINT) AS n_purch
    FROM j
    WHERE regexp_matches(journey, 'S.*P.*P')
    """,
    tags=("composite", "D8", "H2"),
)
def q_seq_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence pattern matching: each user's
    event history becomes an ordered symbol string (one char per
    event: S=signup, P=purchase, …), and a regex selects users whose
    JOURNEY matches — here 'S.*P.*P', signup later followed by two or
    more purchases (q_funnel generalized: any regular pattern, not one
    fixed A→B→C). The symbol encoding is the classic trick that turns
    arbitrary sequence predicates into one regexp over a per-key
    aggregate — one shuffle on user_id, then regex on strings of
    per-user length; no self-joins per step, no iteration. Order ties
    break on event_id in both engines, so the string is deterministic."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.upper(F.substring("event_type", 1, 1)).alias("sym"),
    )
    j = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, sym)))"
            ", x -> x.sym), '')"
        ).alias("journey"),
        F.count("*").alias("n_events"),
    )
    return j.filter(F.col("journey").rlike("S.*P.*P")).select(
        "user_id",
        "n_events",
        F.expr("CAST(instr(journey, 'S') AS BIGINT)").alias("sig_pos"),
        F.expr(
            "CAST(length(journey) - length(replace(journey, 'P', '')) AS BIGINT)"
        ).alias("n_purch"),
    )


@register(
    "q_alloc_prorata",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty
        FROM lineitem WHERE l_orderkey % 5 = 0
    ),
    o AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_c
        FROM orders WHERE o_orderkey % 5 = 0
    ),
    sh AS (
        SELECT l.l_orderkey, l.l_linenumber, o.total_c,
               SUM(l.qty) OVER (PARTITION BY l.l_orderkey) AS sumq,
               o.total_c * l.qty AS share_num
        FROM li l JOIN o ON o.o_orderkey = l.l_orderkey
    ),
    b AS (
        SELECT *,
               CAST(FLOOR(share_num / sumq) AS BIGINT) AS base,
               share_num - CAST(FLOOR(share_num / sumq) AS BIGINT) * sumq
                   AS rem
        FROM sh
    ),
    d AS (
        SELECT *,
               total_c - SUM(base) OVER (PARTITION BY l_orderkey) AS deficit,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                  ORDER BY rem DESC, l_linenumber) AS rk
        FROM b
    )
    SELECT l_orderkey, l_linenumber,
           base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS alloc_c
    FROM d
    """,
    tags=("composite", "E1", "C1"),
)
def q_alloc_prorata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proportional allocation (Hamilton method
    [PK]) — the billing/settlement operator: spread each order's total
    (in cents) across its line items proportional to quantity such
    that the integer allocations SUM BACK EXACTLY to the total. Floor
    shares first, then hand the leftover cents to the largest
    fractional remainders (ties broken by line number). Everything is
    integer arithmetic on (total·qty, Σqty) — the float division only
    feeds a FLOOR on values < 2^53, identical in both engines. Plan:
    both window passes partition on l_orderkey, so the whole operator
    is ONE shuffle of lineitem plus a co-keyed join with orders —
    at 100 TB both sides bucket by orderkey and no window sees more
    than one order. The %5 key sample bounds the compared output."""
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("qty"),
        )
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            cents("o_totalprice").alias("total_c"),
        )
    )
    wo = Window.partitionBy("l_orderkey")
    sh = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .withColumn("sumq", F.sum("qty").over(wo))
        .withColumn("share_num", F.col("total_c") * F.col("qty"))
    )
    b = sh.withColumn(
        "base", F.expr("CAST(FLOOR(share_num / sumq) AS BIGINT)")
    ).withColumn("rem", F.col("share_num") - F.col("base") * F.col("sumq"))
    d = b.withColumn(
        "deficit", F.col("total_c") - F.sum("base").over(wo)
    ).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy(
                F.desc("rem"), F.asc("l_linenumber")
            )
        ),
    )
    return d.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("base") + F.when(F.col("rk") <= F.col("deficit"), 1).otherwise(0)).alias(
            "alloc_c"
        ),
    )


@register(
    "q_pareto_8020",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    ranked AS (
        SELECT segment, cents,
               SUM(cents) OVER (PARTITION BY segment
                                ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING) AS cum_cents,
               SUM(cents) OVER (PARTITION BY segment) AS total_cents,
               ROW_NUMBER() OVER (PARTITION BY segment
                                  ORDER BY cents DESC, o_custkey) AS rk,
               COUNT(*) OVER (PARTITION BY segment) AS n_cust
        FROM per_cust
    )
    SELECT segment,
           CAST(MIN(rk) AS BIGINT) AS cust_to_80pct,
           CAST(MIN(n_cust) AS BIGINT) AS n_customers
    FROM ranked
    WHERE cum_cents * 5 >= total_cents * 4
    GROUP BY segment
    """,
    tags=("composite", "E1", "D1"),
)
def q_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration cut (the 80/20 question): per market
    segment, how many top customers it takes to cover 80% of revenue —
    rank customers by revenue desc, running share over the ranked
    order, first rank whose cumulative share reaches 4/5. The
    threshold compares in pure integers (cum·5 ≥ total·4 — no float
    share to disagree over at the boundary); ties in revenue break on
    custkey so the rank is total. Plan: one orderkey-keyed aggregate,
    then ALL four windows share a single (segment) partitioning — one
    customer-level shuffle regardless of how many statistics ride
    along."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(
            F.sum(cents("o_totalprice"))
            .cast("bigint")
            .alias("cents")
        )
    )
    by_rev = Window.partitionBy("segment").orderBy(
        F.desc("cents"), F.asc("o_custkey")
    )
    whole = Window.partitionBy("segment")
    ranked = per_cust.select(
        "segment",
        "cents",
        F.sum("cents")
        .over(by_rev.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_cents"),
        F.sum("cents").over(whole).alias("total_cents"),
        F.row_number().over(by_rev).alias("rk"),
        F.count("*").over(whole).alias("n_cust"),
    )
    return (
        ranked.filter(F.col("cum_cents") * 5 >= F.col("total_cents") * 4)
        .groupBy("segment")
        .agg(
            F.min("rk").cast("bigint").alias("cust_to_80pct"),
            F.min("n_cust").cast("bigint").alias("n_customers"),
        )
    )


@register(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS from_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ),
    tr AS (
        SELECT from_type, to_type, COUNT(*) AS n_trans
        FROM seq WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n_trans,
           CAST(n_trans * 1000000
                // SUM(n_trans) OVER (PARTITION BY from_type)
                AS BIGINT) AS p_e6
    FROM tr
    """,
    tags=("E2", "D1", "composite"),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    journeys — the behavioral model behind next-action prediction,
    journey simulation and anomalous-flow detection: for every ordered
    pair of consecutive events of one user, count (from_type →
    to_type) and its exact row probability p_e6 = n·10⁶ div Σ_from n
    (integer division of positive integers — Spark's DIV and DuckDB's
    // agree, no float probability to disagree over). Order ties break
    on event_id so each user's journey is deterministic. Plan: ONE
    user-keyed shuffle for the lead window, then a transition-pair hash
    aggregate whose output is |types|² rows — the row-probability
    window runs on that tiny matrix, never on the fact table. At
    100 TB the journey shuffle is the only fact-sized exchange and
    partitions by user exactly like sessionization."""
    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    tr = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n_trans"))
    return tr.select(
        "from_type",
        "to_type",
        "n_trans",
        F.expr(
            "CAST(n_trans * 1000000 DIV SUM(n_trans)"
            " OVER (PARTITION BY from_type) AS BIGINT)"
        ).alias("p_e6"),
    )


@register(
    "q_rfm_segments",
    oracle="""
    WITH anchor AS (
        SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders
    ),
    cust AS (
        SELECT o_custkey,
               datediff('day', MAX(CAST(o_orderdate AS DATE)),
                        (SELECT maxd FROM anchor)) AS rec_days,
               COUNT(*) AS freq,
               SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
        FROM orders
        GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey, cents,
               NTILE(4) OVER (ORDER BY rec_days ASC, o_custkey) AS r_score,
               NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS f_score,
               NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS m_score
        FROM cust
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(SUM(cents) AS BIGINT) AS cents_total
    FROM scored
    GROUP BY r_score, f_score, m_score
    """,
    tags=("E4", "D1", "composite"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM/marketing operator: each
    customer scored 1–4 on Recency (days since last order, vs the
    corpus max date), Frequency (order count) and Monetary (lifetime
    cents), quartiles via NTILE over a TOTAL order (custkey breaks
    every tie, and NTILE's bucket-size rule — first n mod 4 buckets
    one larger — is SQL-standard and identical in both engines); the
    compared output is the 4×4×4 segment census. Plan: one
    custkey-keyed aggregate over orders (fact-sized), a 1-row anchor
    scalar broadcast, then three NTILEs sharing the customer-level
    frame — at 100 TB the quartile boundaries would come from an
    approx-quantile pass instead of a global NTILE window; the
    segment rule itself is unchanged (docstring'd trade-off: NTILE
    keeps the oracle exact, the boundary spelling is the scale path)."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        cents("o_totalprice").alias("cents"),
    )
    anchor = o.agg(F.max("d").alias("maxd"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max("d").alias("lastd"),
            F.count("*").alias("freq"),
            F.sum("cents").alias("cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("maxd", "lastd").alias("rec_days"),
            "freq",
            "cents",
        )
    )
    scored = cust.select(
        "o_custkey",
        "cents",
        F.ntile(4).over(Window.orderBy(F.asc("rec_days"), F.asc("o_custkey"))).alias("r_score"),
        F.ntile(4).over(Window.orderBy(F.desc("freq"), F.asc("o_custkey"))).alias("f_score"),
        F.ntile(4).over(Window.orderBy(F.desc("cents"), F.asc("o_custkey"))).alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").cast("bigint").alias("cents_total"),
    )


# Per group of ``x`` (treat, cents): the treated/control counts n1/n2,
# cent sums s1/s2 and square sums q1/q2, in DECIMAL(38,0).
_TREAT_MOMENTS_SQL = """CAST(COUNT(*) FILTER (WHERE treat) AS DECIMAL(38,0)) AS n1,
               CAST(COUNT(*) FILTER (WHERE NOT treat) AS DECIMAL(38,0)) AS n2,
               CAST(COALESCE(SUM(cents) FILTER (WHERE treat), 0)
                    AS DECIMAL(38,0)) AS s1,
               CAST(COALESCE(SUM(cents) FILTER (WHERE NOT treat), 0)
                    AS DECIMAL(38,0)) AS s2,
               CAST(COALESCE(SUM(cents * cents) FILTER (WHERE treat), 0)
                    AS DECIMAL(38,0)) AS q1,
               CAST(COALESCE(SUM(cents * cents) FILTER (WHERE NOT treat), 0)
                    AS DECIMAL(38,0)) AS q2"""


@register(
    "q_ab_test",
    oracle=f"""
    WITH x AS (
        SELECT event_type,
               user_id % 2 = 0 AS treat,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    g AS (
        SELECT event_type,
               {_TREAT_MOMENTS_SQL}
        FROM x GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(n2 AS BIGINT) AS n_control,
           ROUND(CAST(s1 * n2 - s2 * n1 AS DOUBLE)
                 / CAST(n1 * n2 AS DOUBLE) / 100.0, 6) AS mean_diff,
           (s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1) * (n1 + n2 - 2)
             > 4 * (n2 * (n1 * q1 - s1 * s1) + n1 * (n2 * q2 - s2 * s2))
                 * (n1 + n2) AS significant
    FROM g
    """,
    tags=("D10", "D3", "eval"),
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample A/B test (pooled-variance t², threshold
    |t| > 2): treatment = even user_id, metric = event value in
    cents, one test per event_type. The decision is made entirely in
    DECIMAL(38,0) integer algebra — with D = S₁n₂ − S₂n₁ (the
    cross-multiplied mean difference) and Bᵢ = nᵢQᵢ − Sᵢ² (n²·variance
    numerators), t² > 4 is EXACTLY D²(n₁+n₂−2) > 4(n₂B₁ + n₁B₂)(n₁+n₂)
    — no sqrt, no float, no boundary an engine pair can split
    (q_anomaly_3sigma's multiply-through discipline applied to the
    two-sample statistic). The reported mean_diff pays the single
    ROUND(6) double division on identical exact operands (the
    q_timeseries_trend pattern). Plan: ONE conditional hash aggregate
    over events — treatment and control are FILTER branches of the
    same pass, so the whole test is one fact-sized shuffle producing
    |event_type| rows; no join anywhere."""
    x = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("treat"),
        cents("value").alias("cents"),
    )
    d38 = "decimal(38,0)"
    g = x.groupBy("event_type").agg(
        F.count(F.when(F.col("treat"), 1)).cast(d38).alias("n1"),
        F.count(F.when(~F.col("treat"), 1)).cast(d38).alias("n2"),
        F.coalesce(F.sum(F.when(F.col("treat"), F.col("cents"))), F.lit(0)).cast(d38).alias("s1"),
        F.coalesce(F.sum(F.when(~F.col("treat"), F.col("cents"))), F.lit(0)).cast(d38).alias("s2"),
        F.coalesce(
            F.sum(F.when(F.col("treat"), F.col("cents") * F.col("cents"))), F.lit(0)
        ).cast(d38).alias("q1"),
        F.coalesce(
            F.sum(F.when(~F.col("treat"), F.col("cents") * F.col("cents"))), F.lit(0)
        ).cast(d38).alias("q2"),
    )
    d = F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")
    b1 = F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")
    b2 = F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")
    return g.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n2").cast("bigint").alias("n_control"),
        F.round(
            d.cast("double") / (F.col("n1") * F.col("n2")).cast("double") / 100.0, 6
        ).alias("mean_diff"),
        (
            d * d * (F.col("n1") + F.col("n2") - 2)
            > 4 * (F.col("n2") * b1 + F.col("n1") * b2) * (F.col("n1") + F.col("n2"))
        ).alias("significant"),
    )


# shared with the streaming twin (q_stream_bitmap_audience): the
# drained stream must hash-equal the same naive-recount oracle
BITMAP_AUDIENCE_ORACLE = """
    WITH tu AS (
        SELECT DISTINCT event_type, user_id FROM events
    ),
    sizes AS (
        SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type
    ),
    ov AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS overlap_users
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT o.type_a, o.type_b, o.overlap_users,
           sa.n + sb.n - o.overlap_users AS union_users,
           CAST(o.overlap_users * 1000000
                // (sa.n + sb.n - o.overlap_users) AS BIGINT) AS jaccard_e6
    FROM ov o
    JOIN sizes sa ON sa.event_type = o.type_a
    JOIN sizes sb ON sb.event_type = o.type_b
    """


@register(
    "q_bitmap_audience",
    oracle=BITMAP_AUDIENCE_ORACLE,
    tags=("H11", "D1", "composite"),
)
def q_bitmap_audience(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between every pair of event types via 64-bit
    BITMAP WORDS — the roaring-bitmap/Druid set-intersection shape
    that answers "how many users do segments A and B share" without
    ever shuffling a (user,user) join: each segment's audience becomes
    ⌈|users|/64⌉ words (word w = OR of 1<<(id mod 64) over ids with
    id div 64 = w — OR is idempotent, so no per-user DISTINCT pass is
    needed), pairwise overlap = Σ popcount(wordA AND wordB) over an
    equi-join on word index, and sizes = Σ popcount per segment. The
    oracle computes the same counts the naive way (distinct pairs +
    self-join on user). Jaccard is exact integer e6 (DIV // parity).
    Plan: one (type, word-index)-keyed aggregate over events (the only
    fact-sized shuffle — 64× smaller than the distinct-user set on
    output), then joins on word index over frames |types|·|users|/64
    rows long. At 100 TB this is exactly how audience engines scale:
    words partition by index, every pairwise AND is co-located."""
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("user_id DIV 64").alias("widx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias("bit"),
    )
    # Pinned: the bitmap index (|types|·|users|/64 rows, 8 B words) is
    # exactly what audience engines materialize; bitmap_overlap consumes
    # it three times (sizes + both join sides) — unpinned, each consumer
    # re-paid the fact scan and the bit_or aggregation.
    words = pin(
        ev.groupBy("event_type", "widx")
        .agg(F.expr("bit_or(bit)").alias("word")),
        "q_bitmap_audience.words",
    )
    return bitmap_overlap(words)


def bitmap_overlap(words: DataFrame) -> DataFrame:
    """Pairwise audience overlap from a (event_type, widx, word) bitmap
    frame — the shared tail of q_bitmap_audience and its streaming twin
    (one implementation, one zero-filter, one oracle). Pairs whose
    shared word blocks carry NO common bit are DROPPED (overlap 0) —
    two audiences can collide in a 64-user block without sharing a
    user, and the naive recount oracle's inner join never emits such a
    pair."""
    sizes = words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).alias("n")
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "widx", F.col("word").alias("wa")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "widx", F.col("word").alias("wb")
    )
    ov = (
        a.join(b, ["widx"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.sum(F.bit_count(F.col("wa").bitwiseAND(F.col("wb")))).alias("overlap_users"))
        .filter(F.col("overlap_users") > 0)
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    return (
        ov.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "overlap_users",
            (F.col("na") + F.col("nb") - F.col("overlap_users")).alias("union_users"),
            F.expr(
                "CAST(overlap_users * 1000000 DIV (na + nb - overlap_users) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
    )


@register(
    "q_grid_hotspots",
    oracle="""
    WITH cells AS (
        SELECT (user_id % 16) AS u,
               CAST(FLOOR(ABS(value)) AS BIGINT) % 16 AS v,
               COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    ),
    sm AS (
        SELECT c.u + du.x AS u, c.v + dv.x AS v,
               CAST(SUM(c.n) AS BIGINT) AS smoothed
        FROM cells c
        CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS x) du
        CROSS JOIN (SELECT UNNEST([-1, 0, 1]) AS x) dv
        WHERE c.u + du.x BETWEEN 0 AND 15
          AND c.v + dv.x BETWEEN 0 AND 15
        GROUP BY 1, 2
    )
    SELECT s.u, s.v, CAST(COALESCE(c.n, 0) AS BIGINT) AS n, s.smoothed
    FROM sm s LEFT JOIN cells c ON c.u = s.u AND c.v = s.v
    ORDER BY s.smoothed DESC, s.u, s.v
    LIMIT 10
    """,
    tags=("D1", "composite", "spatial"),
)
def q_grid_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial GRID HOTSPOTS with 3×3 STENCIL smoothing — the
    density-surface operator behind heatmaps and anomaly hotspot
    detection: events bin into a 16×16 grid (the q_lake_zorder (u,v)
    derivation, coarsened), each cell's count is box-smoothed over its
    Moore neighborhood (edge cells simply sum fewer neighbors — no
    wraparound), and the top-10 smoothed cells come back with their
    raw counts. The stencil runs on the AGGREGATED cell frame, never
    the fact table: each cell scatters its count to its ≤9 neighbor
    positions (explode of a 9-element literal offset array — map-side
    fanout on a |cells|-row frame) and a second tiny hash aggregate
    gathers. One fact-sized shuffle total (the cell binning); top-10
    is TakeOrderedAndProject. At 100 TB the identical plan stands at
    any grid resolution — the stencil cost scales with |cells|, not
    rows, exactly how raster aggregation pyramids are built."""
    cells = (
        t(spark, sf_dir, "events")
        .groupBy(
            (F.col("user_id") % 16).alias("u"),
            (F.expr("CAST(FLOOR(ABS(value)) AS BIGINT)") % 16).alias("v"),
        )
        .agg(F.count("*").alias("n"))
    )
    scattered = (
        cells.select(
            "u",
            "v",
            "n",
            F.explode(
                F.expr(
                    "flatten(transform(array(-1, 0, 1), dx -> "
                    "transform(array(-1, 0, 1), dy -> struct(dx, dy))))"
                )
            ).alias("d"),
        )
        .select(
            (F.col("u") + F.col("d.dx")).alias("nu"),
            (F.col("v") + F.col("d.dy")).alias("nv"),
            "n",
        )
        .filter(
            (F.col("nu") >= 0) & (F.col("nu") <= 15)
            & (F.col("nv") >= 0) & (F.col("nv") <= 15)
        )
    )
    sm = scattered.groupBy(
        F.col("nu").alias("u"), F.col("nv").alias("v")
    ).agg(F.sum("n").cast("bigint").alias("smoothed"))
    return (
        sm.join(cells, ["u", "v"], "left")
        .select(
            "u", "v", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"), "smoothed"
        )
        .orderBy(F.desc("smoothed"), "u", "v")
        .limit(10)
    )


# Events in microseconds and cents (ev), the purchases (p) and the
# touches (tch) an attribution line credits: the oracle twin of
# ``_touch_events``.
_TOUCHES_SQL = """ev AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
    tch AS (SELECT * FROM ev WHERE event_type IN ('click', 'view'))"""


def _touch_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, event_id, event_type, us, cents): events with their
    microsecond timestamp and cent value, the attribution lines' input."""
    return t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        cents("value").alias("cents"),
    )


@register(
    "q_attribution_lasttouch",
    oracle=f"""
    WITH {_TOUCHES_SQL},
    cand AS (
        SELECT p.event_id AS pid, p.cents, t.event_type AS ch,
               t.us AS t_us,
               ROW_NUMBER() OVER (PARTITION BY p.event_id
                                  ORDER BY t.us DESC, t.event_id DESC) AS rk
        FROM p JOIN tch t
          ON t.user_id = p.user_id
         AND (t.us < p.us OR (t.us = p.us AND t.event_id < p.event_id))
    ),
    last AS (
        SELECT pid, cents,
               CASE WHEN t_us >= (SELECT us FROM p p2 WHERE p2.event_id = pid)
                               - 259200000000
                    THEN ch ELSE 'direct' END AS channel
        FROM cand WHERE rk = 1
    ),
    direct AS (
        SELECT p.event_id AS pid, p.cents, 'direct' AS channel
        FROM p WHERE NOT EXISTS (SELECT 1 FROM cand c WHERE c.pid = p.event_id)
    ),
    allp AS (SELECT * FROM last UNION ALL SELECT * FROM direct)
    SELECT channel, COUNT(*) AS n_purchases,
           CAST(SUM(cents) AS BIGINT) AS credited_cents
    FROM allp GROUP BY channel
    """,
    tags=("E2", "D1", "composite"),
)
def q_attribution_lasttouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH marketing attribution: every purchase credits the
    user's most recent preceding touchpoint (click or view) — within a
    3-day lookback, else 'direct' — and credit aggregates per channel.
    The oracle spells it as a purchase×touch join + rank; the Spark
    plan is the JOIN-FREE window formulation: one pass over each
    user's (ts, event_id)-ordered history carrying the running latest
    touch as max(struct(us, event_id, type)) — struct ordering IS the
    recency order, purchases read it in place, no purchase-to-touch
    shuffle at all. Ties on the microsecond timestamp break on
    event_id via tuple comparison in BOTH spellings, so the credited
    channel is deterministic. One user-keyed exchange total; at 100 TB
    this is the sessionization shuffle profile, and the 3-day
    lookback bounds state exactly like a stream watermark would."""
    ev = _touch_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.struct("us", "event_id", F.col("event_type").alias("ch")),
    )
    with_last = ev.withColumn("last_touch", F.max(touch).over(w))
    purchases = with_last.filter(F.col("event_type") == "purchase").select(
        "cents",
        F.when(
            F.col("last_touch").isNotNull()
            & (F.col("last_touch.us") >= F.col("us") - 259_200_000_000),
            F.col("last_touch.ch"),
        )
        .otherwise(F.lit("direct"))
        .alias("channel"),
    )
    return purchases.groupBy("channel").agg(
        F.count("*").alias("n_purchases"),
        F.sum("cents").cast("bigint").alias("credited_cents"),
    )


@register(
    "q_market_basket",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey % 200 AS item
        FROM lineitem
    ),
    n_ord AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    sup AS (
        SELECT item, COUNT(*) AS c FROM items GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS c_ab
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.item < b.item
        GROUP BY a.item, b.item
    )
    SELECT p.item_a, p.item_b, p.c_ab,
           CAST(p.c_ab * 1000000 // sa.c AS BIGINT) AS conf_a_to_b_e6,
           CAST(p.c_ab * n.n * 1000000 // (sa.c * sb.c) AS BIGINT)
               AS lift_e6
    FROM pairs p
    JOIN sup sa ON sa.item = p.item_a
    JOIN sup sb ON sb.item = p.item_b
    CROSS JOIN n_ord n
    WHERE p.c_ab >= GREATEST(5, n.n // 2100)
    """,
    tags=("C6", "D1", "composite"),
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association mining (pairwise frequent itemsets):
    items co-purchased in one order, with exact integer support,
    confidence (c_ab·10⁶ div c_a) and lift (c_ab·N·10⁶ div c_a·c_b) —
    the retail/recommendation operator (Agrawal's association rules
    [PK], pair level). Items are the part key folded to 200 SKUs so
    pair supports clear the min-support floor at fixture scale. Plan:
    distinct (order, item) → self-join ON THE ORDER KEY (co-located;
    per-order pair fanout is bounded by basket size², the Apriori
    candidate shape — never an item×item cross), pair hash aggregate,
    then two broadcast joins against the item-support frame and the
    1-row order count. The min-support floor is SCALE-AWARE —
    greatest(5, n_orders div 2100), evaluated inside the plan off the
    broadcast 1-row count (r6 verdict item 3: a fixed c_ab ≥ 20 was
    vacuously empty-vs-empty at sf0.01) — so the same code prunes
    meaningfully at every SF. No frequent-item pre-filter: on the
    uniform `% 200` fold every item's support is ≥37× the floor (sf0.01,
    sf0.1), so a frequent-item semi-filter would prune nothing and
    only adds a broadcast join per side."""
    # the distinct (order, item) frame feeds FOUR consumers (order
    # count, supports, both self-join sides) — pin it once instead of
    # re-scanning lineitem and re-running the distinct per consumer
    items = pin(
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 200).alias("item"))
        .distinct(),
        "q_market_basket.items",
    )
    n_ord = items.agg(F.countDistinct("l_orderkey").alias("n"))
    sup = items.groupBy("item").agg(F.count("*").alias("c"))
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("item").alias("item_a"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count("*").alias("c_ab"))
    )
    sa = sup.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
    sb = sup.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
    return (
        pairs.crossJoin(F.broadcast(n_ord))
        # scale-aware min-support: the floor derives from the same
        # broadcast 1-row order count the lift formula uses
        .filter(F.col("c_ab") >= F.greatest(F.lit(5), F.expr("n DIV 2100")))
        .join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            "c_ab",
            F.expr("CAST(c_ab * 1000000 DIV ca AS BIGINT)").alias("conf_a_to_b_e6"),
            F.expr("CAST(c_ab * n * 1000000 DIV (ca * cb) AS BIGINT)").alias(
                "lift_e6"
            ),
        )
    )


@register(
    "q_join_spatial_radius",
    oracle="""
    WITH p AS (
        SELECT event_id AS id,
               user_id % 1000 AS x,
               CAST(ROUND(value * 100) AS BIGINT) % 1000 AS y
        FROM events
    ),
    l AS (
        SELECT id, x, y, x // 5 + dx.d AS cx, y // 5 + dy.d AS cy
        FROM p,
             (SELECT UNNEST(range(-1, 2)) AS d) dx,
             (SELECT UNNEST(range(-1, 2)) AS d) dy
    ),
    r AS (SELECT id, x, y, x // 5 AS cx, y // 5 AS cy FROM p),
    pairs AS (
        SELECT l.id AS a, l.x AS ax
        FROM l JOIN r ON l.cx = r.cx AND l.cy = r.cy AND l.id < r.id
        WHERE (l.x - r.x) * (l.x - r.x) + (l.y - r.y) * (l.y - r.y) <= 25
    )
    SELECT CAST(ax // 100 AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    tags=("C8", "M4"),
)
def q_join_spatial_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius self-join (distance-threshold pairing): all point
    pairs within Euclidean distance r, banded into a compact census.
    The grid-bucket spelling that makes an O(n²) theta join linear in
    the true pair count: each point lands in one r-sized home cell;
    the LEFT side explodes to its 3×3 neighbor cells (map-side, 9×);
    ONE equi-join on the cell key yields candidates, and an exact
    INTEGER squared-distance test verifies — no trig, no floats (the
    haversine variant swaps only the verify expression). Each
    unordered pair matches exactly once: the right side keeps only its
    home cell, neighborhood symmetry plus the a<b filter pick one
    orientation, and the (cx,cy) key is unique per match. Coordinates
    are integers derived from the fixture (user_id / value-cents mod
    1000 — the events table carries no geo columns; the operator shape
    is coordinate-source agnostic). At 100 TB this is the standard
    spatial-join pattern: cell key = geohash prefix, skew handled by
    AQE (dense cells split), and the 9× explode stays map-side."""
    # Repartition-before-explode (the q_text_winnowing rule, round 12):
    # Spark sizes the scan stage by INPUT bytes, so the 2 MB events
    # projection became a 1–2-task stage carrying the 9x explode, the
    # cell join AND the distance verify — measured 4 tasks total with
    # 30 cores idle. The narrow pre-explode rows are what the exchange
    # moves; the post-explode work then runs at full width.
    p = t(spark, sf_dir, "events").select(
        F.col("event_id").alias("id"),
        (F.col("user_id") % 1000).alias("x"),
        (cents("value") % 1000).alias("y"),
    ).repartition(spark.sparkContext.defaultParallelism, "id")
    offs = F.expr("explode(flatten(transform(sequence(-1, 1), "
                  "dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))")
    left = p.select("id", "x", "y", offs.alias("o")).select(
        F.col("id").alias("a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        (F.expr("x DIV 5") + F.col("o.dx")).alias("cx"),
        (F.expr("y DIV 5") + F.col("o.dy")).alias("cy"),
    )
    right = p.select(
        F.col("id").alias("b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.expr("x DIV 5").alias("cx"),
        F.expr("y DIV 5").alias("cy"),
    )
    pairs = left.join(right, ["cx", "cy"]).filter(
        (F.col("a") < F.col("b"))
        & (
            (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
            + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            <= 25
        )
    )
    return pairs.groupBy(F.expr("ax DIV 100").alias("band")).agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )


def _gh_spread15(x: str) -> str:
    """15-bit → even-bit-positions Morton spread, portable SQL integer
    ops (the 16-bit magic-number ladder; same text runs on Spark SQL
    and DuckDB — the q_scale_zorder convention)."""
    s = x
    s = f"(({s} | ({s} << 8)) & 16711935)"    # 0x00FF00FF
    s = f"(({s} | ({s} << 4)) & 252645135)"   # 0x0F0F0F0F
    s = f"(({s} | ({s} << 2)) & 858993459)"   # 0x33333333
    s = f"(({s} | ({s} << 1)) & 1431655765)"  # 0x55555555
    return s


_GH_BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"

# 30-bit geohash cell code: lon bits occupy the even positions from
# the MSB (geohash bit order), lat the odd — Morton interleave of two
# 15-bit quantized coordinates.
_GH_CODE = (
    f"(({_gh_spread15('(event_id % 32768)')} << 1)"
    f" | {_gh_spread15('(user_id % 32768)')})"
)

# base32 digit extraction, 6 chars of 5 bits from the MSB down
_GH_SQL = " || ".join(
    f"substr('{_GH_BASE32}', (({_GH_CODE} >> {25 - 5 * c}) & 31) + 1, 1)"
    for c in range(6)
)


@register(
    "q_geo_geohash",
    oracle=f"""
    WITH g AS (
        SELECT {_GH_SQL} AS gh, user_id FROM events
    )
    SELECT substr(gh, 1, 2) AS cell2,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(gh) AS first_gh6,
           MAX(gh) AS last_gh6
    FROM g GROUP BY 1 ORDER BY cell2
    """,
    tags=("M4", "H11"),
)
def q_geo_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash spatial indexing: encode each event's position as a
    6-character base-32 geohash — the Morton interleave of two 15-bit
    quantized coordinates rendered in the standard geohash alphabet —
    then census density per 2-character prefix (prefix truncation IS
    geohash's zoom-out, each dropped char = 5 bits coarser). Pure
    integer bit ladder + substr lookups, the IDENTICAL SQL text on
    both engines (q_scale_zorder convention), so the oracle pins every
    one of the 30 bits end to end (min/max of the full hash per cell
    cover the low bits the prefix discards). Coordinates are synthetic
    15-bit grid indices from the fixture (events carry no geo
    columns); a real deployment maps lat_bits = floor((lat+90)/180 ·
    2^15), lon_bits = floor((lon+180)/360 · 2^15) — exact in integer
    microdegrees — and the rest of the expression is unchanged.
    At 100 TB: geohash prefix is the standard spatial shuffle/layout
    key (bucket by prefix, zorder within), which is exactly what the
    one groupBy here demonstrates; the encode itself is map-side
    WholeStageCodegen."""
    return (
        t(spark, sf_dir, "events")
        .select(F.expr(_GH_SQL).alias("gh"), "user_id")
        .groupBy(F.substring("gh", 1, 2).alias("cell2"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("gh").alias("first_gh6"),
            F.max("gh").alias("last_gh6"),
        )
    )


@register(
    "q_attribution_linear",
    oracle=f"""
    WITH {_TOUCHES_SQL},
    cand AS (
        SELECT p.event_id AS pid, p.cents, t.event_type AS ch,
               t.us AS t_us, t.event_id AS tid
        FROM p JOIN tch t
          ON t.user_id = p.user_id
         AND (t.us < p.us OR (t.us = p.us AND t.event_id < p.event_id))
         AND t.us >= p.us - 259200000000
    ),
    rk AS (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY pid
                                  ORDER BY t_us DESC, tid DESC) AS rk,
               COUNT(*) OVER (PARTITION BY pid) AS k
        FROM cand
    ),
    credit AS (
        SELECT ch AS channel,
               cents // k
               + CASE WHEN rk <= cents % k THEN 1 ELSE 0 END AS c
        FROM rk
    ),
    direct AS (
        SELECT 'direct' AS channel, p.cents AS c
        FROM p WHERE NOT EXISTS (SELECT 1 FROM cand WHERE pid = p.event_id)
    ),
    allc AS (SELECT * FROM credit UNION ALL SELECT * FROM direct)
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(SUM(c) AS BIGINT) AS credited_cents
    FROM allc GROUP BY channel
    """,
    tags=("E2", "D1", "composite"),
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch attribution — each purchase's cents split
    EQUALLY across every click/view touch in its 3-day lookback (the
    fair-share dual of q_attribution_lasttouch's winner-take-all), with
    the largest-remainder rule from q_alloc_prorata so integer cents
    reconcile exactly: base = cents DIV k to all k touches, the
    cents % k leftover pennies to the MOST RECENT touches (recency is
    the deterministic tiebreak, (t_us, event_id) descending). Per
    purchase the credited sum equals the purchase cents bit-for-bit —
    the settlement-grade invariant float weights can't give you.
    Purchases with zero in-window touches fall to 'direct' at full
    value via an anti-join.

    Plan: ONE time-bounded LEFT self-join on user_id (the asof-join
    family shape) — a purchase with zero in-window touches survives as
    a single null-touch row and becomes its own 'direct' credit, so no
    separate anti-join recomputes the candidate join (r12: the
    inner-join + anti-join spelling paid the self-join twice and
    scanned events 5x; this spelling scans it twice). Two window
    functions over the SAME (pid, recency) partitioning — one sort
    serves both rank and count (k counts non-null touches only) — then
    a channel rollup. At 100 TB the join shuffles on user_id and the
    window on pid; both keys are high-cardinality, no skew beyond
    AQE's reach."""
    from pyspark.sql import Window

    ev = _touch_events(spark, sf_dir)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("pid"),
        F.col("us").alias("p_us"),
        "cents",
    )
    tch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("tid"),
        F.col("event_type").alias("ch"),
        F.col("us").alias("t_us"),
    )
    cand = p.join(
        tch,
        (F.col("t_user") == F.col("p_user"))
        & (
            (F.col("t_us") < F.col("p_us"))
            | ((F.col("t_us") == F.col("p_us")) & (F.col("tid") < F.col("pid")))
        )
        & (F.col("t_us") >= F.col("p_us") - 259_200_000_000),
        "left",
    )
    w = Window.partitionBy("pid").orderBy(F.desc("t_us"), F.desc("tid"))
    ranked = cand.select(
        "pid",
        "cents",
        "ch",
        F.row_number().over(w).alias("rk"),
        # count touches only: a zero-touch purchase is one all-null row
        F.count("tid").over(Window.partitionBy("pid")).alias("k"),
    )
    credit = ranked.select(
        F.when(F.col("ch").isNull(), F.lit("direct"))
        .otherwise(F.col("ch"))
        .alias("channel"),
        F.when(F.col("ch").isNull(), F.col("cents"))
        .otherwise(
            F.expr("cents DIV k")
            + F.when(F.col("rk") <= F.col("cents") % F.col("k"), 1).otherwise(0)
        )
        .alias("c"),
    )
    return (
        credit.groupBy("channel")
        .agg(
            F.count("*").cast("bigint").alias("n_credits"),
            F.sum("c").cast("bigint").alias("credited_cents"),
        )
    )


# Process-mining variant prefix depth: the "opening book" — full paths
# are near-unique (5 event types, 100+ steps), the first VARIANT_STEPS
# steps are where process structure lives, and the cap bounds the
# variant-string domain at 5^8 regardless of row count.
VARIANT_STEPS = 8

# Point-in-polygon fixture region: a convex-ish pentagon in the same
# 1000x1000 integer space q_join_spatial_radius / q_grid_hotspots
# derive from (user_id, value). One definition feeds the Spark edge
# array, the DuckDB VALUES list and the pytest brute force.
POLY = [(200, 100), (800, 150), (900, 600), (500, 950), (100, 550)]
POLY_EDGES = [
    (POLY[i][0], POLY[i][1], POLY[(i + 1) % len(POLY)][0], POLY[(i + 1) % len(POLY)][1])
    for i in range(len(POLY))
]


@register(
    "q_mining_variants",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id) AS rn
        FROM events
    ),
    pref AS (SELECT * FROM e WHERE rn <= {VARIANT_STEPS}),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS variant,
               CAST(COUNT(*) AS BIGINT) AS n_steps
        FROM pref GROUP BY user_id
    )
    SELECT variant, n_steps, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY variant, n_steps
    ORDER BY n_users DESC, variant LIMIT 20
    """,
    tags=("M1", "E1", "D8"),
)
def q_mining_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROCESS-MINING VARIANT CENSUS — the first {VARIANT_STEPS}-step
    path per user ("opening book"), counted across users: the
    variant-explorer view every process-mining tool (Celonis/ProM
    family [PK]) opens with, and the structural complement of
    q_markov_transitions (which censuses EDGES — this censuses whole
    prefixes, catching order effects a first-order Markov model
    cannot). The prefix cap is the scale design twice over: it bounds
    the per-user collect at {VARIANT_STEPS} structs AND bounds the
    variant-string domain at |event types|^{VARIANT_STEPS} regardless
    of corpus size, so the census aggregate stays domain-sized.

    Plan: one per-user rank window (keyed exchange), a rank filter,
    one per-user ordered assembly (array_sort over <= {VARIANT_STEPS}
    structs — never a giant collect), one domain-bounded census, one
    TakeOrdered(20)."""
    w = Window.partitionBy("user_id").orderBy(
        F.date_trunc("second", "ts"), "event_id"
    )
    pref = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= VARIANT_STEPS)
    )
    paths = pref.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("variant"),
        F.count("*").cast("bigint").alias("n_steps"),
    )
    return (
        paths.groupBy("variant", "n_steps")
        .agg(F.count("*").cast("bigint").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "variant")
        .limit(20)
    )


def _poly_edges_sql() -> str:
    return ", ".join(f"({x1}, {y1}, {x2}, {y2})" for x1, y1, x2, y2 in POLY_EDGES)


def _poly_edges_spark() -> str:
    structs = ", ".join(
        f"named_struct('x1', CAST({x1} AS BIGINT), 'y1', CAST({y1} AS BIGINT), "
        f"'x2', CAST({x2} AS BIGINT), 'y2', CAST({y2} AS BIGINT))"
        for x1, y1, x2, y2 in POLY_EDGES
    )
    return f"array({structs})"


# Ray-cast crossing predicate (+x ray, half-open vertex rule), pure
# integers: one spelling string used by BOTH engines.
_CROSSING = (
    "((y1 <= py) <> (y2 <= py)) AND "
    "(CASE WHEN y2 > y1 "
    " THEN (x1 - px) * (y2 - y1) + (py - y1) * (x2 - x1) > 0 "
    " ELSE (x1 - px) * (y2 - y1) + (py - y1) * (x2 - x1) < 0 END)"
)


@register(
    "q_geo_point_in_polygon",
    oracle=f"""
    WITH pts AS (
        SELECT event_id, event_type,
               user_id % 1000 AS px,
               CAST(ROUND(value * 100, 0) AS BIGINT) % 1000 AS py
        FROM events
    ),
    edges AS (
        SELECT * FROM (VALUES {_poly_edges_sql()}) AS e(x1, y1, x2, y2)
    ),
    crossings AS (
        SELECT p.event_id, p.event_type,
               CAST(COUNT(*) FILTER (WHERE {_CROSSING}) AS BIGINT) AS k
        FROM pts p CROSS JOIN edges
        GROUP BY p.event_id, p.event_type
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(COUNT(*) FILTER (WHERE k % 2 = 1) AS BIGINT) AS n_inside,
           CAST(COUNT(*) FILTER (WHERE k % 2 = 1) * 1000000 // COUNT(*)
                AS BIGINT) AS share_e6
    FROM crossings GROUP BY event_type ORDER BY event_type
    """,
    tags=("M4", "H5", "D3"),
)
def q_geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT point-in-polygon census — which events fall inside a
    polygon region of the fixture's 1000x1000 integer space (the
    geofence / service-area query): classic +x ray casting with the
    half-open vertex rule, every crossing decided by a CROSS-MULTIPLIED
    INTEGER comparison (the ray-edge intersection x is never computed
    as a float — its comparison against px is multiplied through by
    (y2-y1), sign-corrected), so the census is exact in both engines
    with no epsilon anywhere. Horizontal edges drop out of the
    half-open test; a vertex on the ray counts once.

    Plan: the polygon is a {len(POLY)}-edge LITERAL exploded map-side
    onto each point — a {len(POLY)}x fan-out with NO join node (the
    oracle spells the same thing as a tiny VALUES cross join); parity
    folds back per point in the same keyed aggregate. One fact scan,
    one keyed shuffle of (event_id)-partials, one 5-row census. At
    100 TB with a REAL polygon table, the edge side is the broadcast
    dimension of q_join_spatial_radius's grid pattern."""
    pts = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("user_id") % 1000).alias("px"),
        (cents("value") % 1000).alias("py"),
    )
    edges = pts.selectExpr(
        "event_id",
        "event_type",
        "px",
        "py",
        f"explode({_poly_edges_spark()}) AS e",
    ).selectExpr(
        "event_id", "event_type", "px", "py",
        "e.x1 AS x1", "e.y1 AS y1", "e.x2 AS x2", "e.y2 AS y2",
    )
    crossings = edges.groupBy("event_id", "event_type").agg(
        F.count(F.when(F.expr(_CROSSING), 1)).cast("bigint").alias("k")
    )
    return (
        crossings.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.count(F.when(F.col("k") % 2 == 1, 1))
            .cast("bigint")
            .alias("n_inside"),
            F.expr(
                "CAST(count(CASE WHEN k % 2 = 1 THEN 1 END) * 1000000"
                " DIV count(*) AS BIGINT)"
            ).alias("share_e6"),
        )
    )


# Pocock group-sequential boundary for K = 5 looks at overall
# alpha = 0.05: each interim test uses the SAME critical value
# z_P = 2.413 (Pocock 1977, public tables) -> z^2 e6-fixed.
POCOCK5_Z2_E6 = 5_822_569


@register(
    "q_ab_sequential",
    oracle=f"""
    WITH x AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               user_id % 2 = 0 AS treat,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    daily AS (
        SELECT event_type, day,
               {_TREAT_MOMENTS_SQL}
        FROM x GROUP BY event_type, day
    ),
    cum AS (
        SELECT event_type, day,
               ROW_NUMBER() OVER w AS t,
               SUM(n1) OVER wc AS n1, SUM(n2) OVER wc AS n2,
               SUM(s1) OVER wc AS s1, SUM(s2) OVER wc AS s2,
               SUM(q1) OVER wc AS q1, SUM(q2) OVER wc AS q2
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day),
               wc AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    looks AS (
        SELECT * FROM cum WHERE t % 6 = 0
    )
    SELECT event_type,
           CAST(t // 6 AS BIGINT) AS look,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(n2 AS BIGINT) AS n_control,
           ROUND(CAST(s1 * n2 - s2 * n1 AS DOUBLE)
                 / CAST(n1 * n2 AS DOUBLE) / 100.0, 6) AS mean_diff,
           (s1 * n2 - s2 * n1) * (s1 * n2 - s2 * n1)
               * (n1 + n2 - 2) * 1000000
             > {POCOCK5_Z2_E6}
               * (n2 * (n1 * q1 - s1 * s1) + n1 * (n2 * q2 - s2 * s2))
               * (n1 + n2) AS reject
    FROM looks ORDER BY event_type, look
    """,
    tags=("D10", "M2", "eval"),
)
def q_ab_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-SEQUENTIAL A/B TESTING (Pocock 1977) — the interim-
    analysis layer q_ab_test lacks: an experimenter who PEEKS five
    times at alpha = 0.05 uncorrected inflates the false-positive rate
    to ~14%, so each of the 5 equally-spaced looks (every 6th day of
    cumulative data) tests against the constant Pocock boundary
    z = 2.413 instead of 1.96. Each look's pooled-variance t^2 is
    q_ab_test's exact multiply-through identity on the CUMULATIVE
    census sums — D^2(n-2)*10^6 > z_P^2e6 * (n2*B1 + n1*B2) * n over
    DECIMAL(38,0) — so all 25 accept/reject decisions are wholly
    float-free; only the reported mean_diff pays the one ROUND(6)
    division on identical operand bits.

    Plan: one (type, day, treat)-conditional census — 310 rows at any
    SF — then cumulative windows over the day domain give every look's
    sufficient statistics with NO second fact pass (the naive spelling
    re-scans the fact table once per look). Fact scanned once."""
    x = t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.col("user_id") % 2 == 0).alias("treat"),
        cents("value").alias("cents"),
    )
    d38 = "decimal(38,0)"
    daily = x.groupBy("event_type", "day").agg(
        F.count(F.when(F.col("treat"), 1)).cast(d38).alias("n1"),
        F.count(F.when(~F.col("treat"), 1)).cast(d38).alias("n2"),
        F.coalesce(F.sum(F.when(F.col("treat"), F.col("cents"))), F.lit(0))
        .cast(d38)
        .alias("s1"),
        F.coalesce(
            F.sum(F.when(~F.col("treat"), F.col("cents"))), F.lit(0)
        )
        .cast(d38)
        .alias("s2"),
        F.coalesce(
            F.sum(
                F.when(F.col("treat"), F.col("cents") * F.col("cents"))
            ),
            F.lit(0),
        )
        .cast(d38)
        .alias("q1"),
        F.coalesce(
            F.sum(
                F.when(~F.col("treat"), F.col("cents") * F.col("cents"))
            ),
            F.lit(0),
        )
        .cast(d38)
        .alias("q2"),
    )
    wo = Window.partitionBy("event_type").orderBy("day")
    wc = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "event_type",
        F.row_number().over(wo).alias("t"),
        F.sum("n1").over(wc).alias("n1"),
        F.sum("n2").over(wc).alias("n2"),
        F.sum("s1").over(wc).alias("s1"),
        F.sum("s2").over(wc).alias("s2"),
        F.sum("q1").over(wc).alias("q1"),
        F.sum("q2").over(wc).alias("q2"),
    ).filter(F.col("t") % 6 == 0)
    d = F.col("s1") * F.col("n2") - F.col("s2") * F.col("n1")
    b1 = F.col("n1") * F.col("q1") - F.col("s1") * F.col("s1")
    b2 = F.col("n2") * F.col("q2") - F.col("s2") * F.col("s2")
    nn = F.col("n1") + F.col("n2")
    return cum.select(
        "event_type",
        F.expr("t div 6").cast("bigint").alias("look"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n2").cast("bigint").alias("n_control"),
        F.round(
            d.cast("double")
            / (F.col("n1") * F.col("n2")).cast("double")
            / 100.0,
            6,
        ).alias("mean_diff"),
        (
            d * d * (nn - 2) * F.lit(1000000)
            > F.lit(POCOCK5_Z2_E6)
            * (F.col("n2") * b1 + F.col("n1") * b2)
            * nn
        ).alias("reject"),
    )


def _fifo_ranges_sql(name: str, event_type: str) -> str:
    """The ``name`` CTE: each `event_type` row's cent range [lo, hi) on
    its user's running cent total (ts, event_id order)."""
    return f"""{name} AS (
        SELECT user_id, event_id, cents,
               SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi,
               SUM(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - cents AS lo
        FROM x WHERE event_type = '{event_type}'
    )"""


@register(
    "q_alloc_fifo",
    oracle=f"""
    WITH x AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE event_type IN ('view', 'purchase')
    ),
    {_fifo_ranges_sql("lots", "view")},
    {_fifo_ranges_sql("outs", "purchase")},
    matched AS (
        SELECT l.user_id,
               SUM(LEAST(l.hi, o.hi) - GREATEST(l.lo, o.lo)) AS m
        FROM lots l JOIN outs o
          ON o.user_id = l.user_id
         AND l.lo < o.hi AND o.lo < l.hi
        GROUP BY l.user_id
    ),
    tot AS (
        SELECT user_id,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'view'
                                      THEN cents END), 0) AS BIGINT)
                 AS supply,
               CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                      THEN cents END), 0) AS BIGINT)
                 AS demand
        FROM x GROUP BY user_id
    )
    SELECT t.user_id,
           t.supply, t.demand,
           CAST(COALESCE(m.m, 0) AS BIGINT) AS matched_cents,
           CAST(t.supply - COALESCE(m.m, 0) AS BIGINT) AS leftover_cents,
           CAST(t.demand - COALESCE(m.m, 0) AS BIGINT) AS unfilled_cents
    FROM tot t LEFT JOIN matched m ON m.user_id = t.user_id
    ORDER BY t.user_id
    """,
    tags=("M1", "C8", "E2"),
)
def q_alloc_fifo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO LOT ALLOCATION — match each user's demand (purchase cents)
    against their oldest unconsumed supply (view cents) in strict
    arrival order, with BACKORDER semantics (demand queues until
    supply arrives, so the k-th supplied cent always meets the k-th
    demanded cent — the pairing is independent of how the two streams
    interleave in time; the FIFO probe, since deleted (see git
    history), checksummed that pairing against a sequential two-queue
    matcher): the inventory-costing /
    tax-lot / queue-accounting primitive (FIFO cost basis) that naive
    implementations write as a per-user sequential loop. The distributed spelling uses the
    CUMULATIVE-INTERVAL identity: lot i occupies [A_{i-1}, A_i) of the
    user's supply axis and outflow j occupies [B_{j-1}, B_j) of the
    demand axis; FIFO matches exactly their overlap min(A_i,B_j) -
    max(A_{i-1},B_{j-1}) when positive — so the whole allocation is
    two prefix-sum windows and ONE user-keyed equi-join with a range
    residual (the C8 interval-overlap shape), no loop, no state, all
    exact integer cents.

    Plan: two windows over one user-keyed exchange; the match join is
    hash on user_id with the overlap predicate as a residual filter —
    candidate-bound by per-user overlap (each outflow touches few
    lots), never all-pairs; at 100 TB the same join is bucketable on
    user_id. Output is the per-user supply/demand/matched/leftover/
    unfilled census — conservation (matched <= min(supply, demand),
    with equality when one side exhausts) is checkable row by row."""
    x = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def ranged(df):
        return df.select(
            "user_id",
            (F.sum("cents").over(w) - F.col("cents")).alias("lo"),
            F.sum("cents").over(w).alias("hi"),
        )

    lots = ranged(x.filter(F.col("event_type") == "view"))
    outs = (
        ranged(x.filter(F.col("event_type") == "purchase"))
        .withColumnRenamed("lo", "olo")
        .withColumnRenamed("hi", "ohi")
    )
    matched = (
        lots.join(outs, "user_id")
        .filter((F.col("lo") < F.col("ohi")) & (F.col("olo") < F.col("hi")))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.least("hi", "ohi") - F.greatest("lo", "olo")
            ).alias("m")
        )
    )
    tot = x.groupBy("user_id").agg(
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "view", F.col("cents"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("supply"),
        F.coalesce(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("cents"))
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("demand"),
    )
    return (
        tot.join(matched, "user_id", "left")
        .na.fill({"m": 0})
        .select(
            "user_id",
            "supply",
            "demand",
            F.col("m").cast("bigint").alias("matched_cents"),
            (F.col("supply") - F.col("m")).cast("bigint").alias(
                "leftover_cents"
            ),
            (F.col("demand") - F.col("m")).cast("bigint").alias(
                "unfilled_cents"
            ),
        )
    )
