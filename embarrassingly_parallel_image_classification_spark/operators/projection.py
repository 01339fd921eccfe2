"""B1–B6: projection, filter, conditional expressions, nulls, distinct,
sampling (SURVEY.md §2-B).

Reference analog: pervasive pandas/numpy row ops in the notebooks [PK] —
here they are declarative Catalyst expressions, so predicate pushdown and
column pruning reach the parquet scan for free (verified in
tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df
from ..registry import register
from ..sources.tables import t


@register(
    "q_project",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           l_quantity,
           ROUND(l_extendedprice * (1 - l_discount), 6) AS net_price,
           ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charged
    FROM lineitem
    """,
    tags=("B1",),
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection with computed columns (derived prices per lineitem)."""
    li = t(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.round(net, 6).alias("net_price"),
        F.round(net * (1 + F.col("l_tax")), 6).alias("charged"),
    )


@register(
    "q_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08
      AND l_returnflag <> 'A'
    """,
    tags=("B2",),
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive predicate filter — pushed down to the parquet scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_discount").between(0.02, 0.08))
        & (F.col("l_returnflag") != "A")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@register(
    "q_case_when",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'high'
                WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                ELSE 'low' END AS priority_class,
           CASE WHEN o_totalprice >= 200000 THEN 'large'
                WHEN o_totalprice >= 50000 THEN 'mid'
                ELSE 'small' END AS size_class
    FROM orders
    """,
    tags=("B3",),
)
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN remap — the NLCD-code→coarse-class pattern of the
    reference's label taxonomy [PK], as a Catalyst expression."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("low")
        .alias("priority_class"),
        F.when(F.col("o_totalprice") >= 200000, "large")
        .when(F.col("o_totalprice") >= 50000, "mid")
        .otherwise("small")
        .alias("size_class"),
    )


@register(
    "q_null_handling",
    oracle="""
    SELECT c_custkey,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'UNSEGMENTED') AS segment,
           CASE WHEN NULLIF(c_mktsegment, 'BUILDING') IS NULL THEN 1 ELSE 0 END AS was_null,
           COALESCE(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0) AS acctbal_nonneg
    FROM customer
    """,
    tags=("B4",),
)
def q_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null introduction + coalesce/isNull handling (fixtures have no
    nulls, so nullif manufactures them deterministically)."""
    c = t(spark, sf_dir, "customer")
    seg_null = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    return c.select(
        "c_custkey",
        F.coalesce(seg_null, F.lit("UNSEGMENTED")).alias("segment"),
        F.when(seg_null.isNull(), 1).otherwise(0).alias("was_null"),
        F.coalesce(
            F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")), F.lit(0.0)
        ).alias("acctbal_nonneg"),
    )


@register(
    "q_distinct",
    oracle="""
    SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
    """,
    tags=("B5",),
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct over a two-column projection (partial-agg dedup plan)."""
    return t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


@register(
    "q_sample_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE md5(text) < '28'
    """,
    tags=("B6",),
)
def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sample (~15.6 %): keep rows whose content-md5
    sorts below a hex threshold. THE reproducible-sampling technique at
    100 TB — engine-independent (same rows on Spark, DuckDB, anything
    with md5), stable across reruns and cluster sizes, and it degrades
    to a per-row filter with no shuffle. The seeded-RNG variant
    (q_sample) stays for API parity but is engine-specific."""
    d = t(spark, sf_dir, "documents")
    return d.filter(F.md5("text") < "28").select("doc_id", "lang", "n_chars")


@register("q_sample", oracle=None, tags=("B6", "rows-only"))
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample by l_returnflag (seeded; rows-only — sampling is
    engine-specific even when seeded). The reference's class-balanced
    training-set draw [PK] is this exact operator."""
    li = t(spark, sf_dir, "lineitem")
    frac = {"A": 0.1, "N": 0.05, "R": 0.1}
    return li.sampleBy("l_returnflag", fractions=frac, seed=42).select(
        "l_orderkey", "l_linenumber", "l_returnflag"
    )


@register(
    "q_sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE md5(text) < CASE lang WHEN 'en' THEN '80'
                                WHEN 'fr' THEN '40'
                                ELSE '1a' END
    """,
    tags=("B6",),
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: per-stratum keep-rates via
    per-row hash thresholds (~50 % en, ~25 % fr, ~10 % rest) — the
    reference's class-balanced training-set draw [PK] with q_sample_hash's
    engine-independent reproducibility. Unlike sampleBy (seeded RNG,
    engine-specific — kept as rows-only q_sample), the same rows
    survive on any engine and any cluster size, and the operator stays
    a shuffle-free per-row filter."""
    d = t(spark, sf_dir, "documents")
    thr = (
        F.when(F.col("lang") == "en", "80")
        .when(F.col("lang") == "fr", "40")
        .otherwise("1a")
    )
    return d.filter(F.md5(F.col("text").cast("binary")) < thr).select("doc_id", "lang")


@register(
    "q_sample_mixture",
    oracle="""
    WITH rates(bucket, thr) AS (
        VALUES (0, 4294967296), (1, 2147483648), (2, 1073741824), (3, 536870912)
    ), d AS (
        SELECT doc_id, source,
               CAST(substr(source, 4) AS INT) % 4 AS bucket,
               CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) AS h
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE h < thr) AS BIGINT) AS n_kept,
           ROUND(thr / 4294967296.0, 6) AS target_rate,
           ROUND(COUNT(*) FILTER (WHERE h < thr) * 1.0 / COUNT(*), 6)
               AS achieved_rate
    FROM d JOIN rates USING (bucket)
    GROUP BY source, thr
    """,
    tags=("B6", "K4"),
)
def q_sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mixture sampling: each source gets a target
    keep-rate from a tiny mixing-config dim (the data-mixture weights of
    an LLM pre-training recipe — e.g. upweight curated sources, downweight
    crawl), and a row survives iff its portable 32-bit md5 hash falls
    under rate·2³². Reproducible across engines, runs, and partitionings
    — re-running the pipeline yields the same sample, unlike rand().

    Scale: the config joins broadcast; the keep decision is one
    hash-compare per row (no shuffle, no state); the only shuffle is the
    final per-source audit aggregation."""
    rates = local_df(
        spark,
        [(0, 4294967296), (1, 2147483648), (2, 1073741824), (3, 536870912)],
        "bucket int, thr long",
    )
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.expr("CAST(substring(source, 4) AS INT)") % 4).alias("bucket"),
        md5_int(F.concat(F.lit("mix"), F.col("doc_id").cast("string")), 8).alias("h"),
    )
    kept = F.when(F.col("h") < F.col("thr"), 1).otherwise(0)
    return (
        d.join(F.broadcast(rates), "bucket")
        .groupBy("source", "thr")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept).cast("bigint").alias("n_kept"),
            F.round(F.col("thr") / F.lit(4294967296.0), 6).alias("target_rate"),
            F.round(F.sum(kept) / F.count("*"), 6).alias("achieved_rate"),
        )
        .drop("thr")
        .select("source", "n_docs", "n_kept", "target_rate", "achieved_rate")
    )


@register(
    "q_sample_weighted",
    oracle="""
    WITH k AS (
        SELECT doc_id, n_chars,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS u
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, n_chars,
           ROUND(u / (4294967296.0 * n_chars), 6) AS priority
    FROM k
    ORDER BY u / (4294967296.0 * n_chars), doc_id
    LIMIT 100
    """,
    tags=("B6", "F2"),
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement by SEQUENTIAL POISSON
    sampling (Ohlsson 1998): priority_i = u_i / w_i with u_i a
    portable md5-derived uniform and w_i = n_chars; the n smallest
    priorities are the sample, so selection probability grows with
    document length — the weighted analogue of q_sample_hash, closing
    SURVEY §7's "weighted reservoir sampling" later-rounds item.

    Cross-engine exactness is designed in: u_i is an integer both
    engines derive from the same md5 hex, and the priority uses ONLY
    IEEE-exact ops (int→double conversion below 2^53, one multiply,
    one divide — no pow/log as in Efraimidis–Spirakis A-ES, whose
    transcendentals are not bit-portable). Ties (impossible unless
    hashes collide) break on doc_id in both engines.

    Scale: per-row hash + divide, no shuffle until the global top-n —
    which Spark plans as TakeOrderedAndProject (partition-local top-100
    then a 100·partitions merge at the driver), the O(n) reservoir
    shape; the full corpus is never sorted."""
    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = md5_int(F.col("doc_id").cast("string"), 8)
    prio = u / (F.lit(4294967296.0) * F.col("n_chars"))
    return (
        d.select("doc_id", "n_chars", prio.alias("p"))
        .orderBy("p", "doc_id")
        .limit(100)
        .select("doc_id", "n_chars", F.round("p", 6).alias("priority"))
    )
