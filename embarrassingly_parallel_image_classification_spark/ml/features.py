"""Feature-engineering transforms (SURVEY.md §2-Q, round 8): the
tabular encode/discretize steps between curated data and a trainer.
The rolling z-score/min-max normalizer already lives in
operators/windows.py ``q_window_normalize`` (per-series, trailing
frame); this module adds the GLOBAL and CATEGORICAL transforms — the
Spark MLlib ``StringIndexer`` / ``OneHotEncoder`` / ``Bucketizer``
shapes [PK] plus leave-one-out target encoding (Micci-Barreca 2001
[PK]) — each as pure DataFrame ops with exact-integer DuckDB oracles.

The shared scale shape: every transform here is
``tiny aggregate → broadcast back onto the fact table`` —

- the aggregate output is bounded by the CATEGORY DOMAIN (5 market
  segments, 5 order priorities) or is a single global row (min/max),
  never by the fact row count, so it broadcasts at any scale factor;
- the fact table itself is touched exactly once, map-side, and is
  NEVER shuffled or windowed. The naive spellings (a window
  partitioned by category for target encoding, a per-row rank for
  bucketize) shuffle the full fact table on a 5-value key — the
  guaranteed-skew plan at 100 TB. The agg+broadcast-join spelling is
  map-side combinable on the way up and embarrassingly parallel on
  the way back down.

Integer discipline throughout (the q_window_normalize rule): money in
cents via CAST(ROUND(x*100, 0) AS BIGINT), encodings as BIGINT DIV —
both engines agree bit-for-bit, no float accumulation order to drift.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df, pin
from ..operators.aggregates import _GROUP_RANKS_SQL, select_group_quantiles
from ..registry import register
from ..sources.tables import cents, t

# Equi-width bucket count for q_feat_bucketize — module-level so the
# Spark plan, the oracle, and any downstream consumer share ONE
# definition (the GOPHER_* rule from round 7).
BUCKETIZE_K = 16


def _price_bucket() -> Column:
    """The equal-width bucket (0..BUCKETIZE_K-1) of ``cents`` within its
    [lo, hi] range; 0 when the range is a single value."""
    return (
        F.when(
            F.col("hi") > F.col("lo"),
            F.expr(f"(cents - lo) * {BUCKETIZE_K} DIV (hi - lo + 1)"),
        )
        .otherwise(0)
        .cast("bigint")
    )


# Per (priority, fold) cent sum s_f and count n_f of ``pts``, and per
# priority their totals s_t, n_t: the out-of-fold target-encoding sums.
_FOLD_SUMS_SQL = """gf AS (
        SELECT o_orderpriority, fold,
               CAST(SUM(cents) AS BIGINT) AS s_f,
               CAST(COUNT(*) AS BIGINT) AS n_f
        FROM pts GROUP BY o_orderpriority, fold
    ),
    gt AS (
        SELECT o_orderpriority,
               CAST(SUM(s_f) AS BIGINT) AS s_t,
               CAST(SUM(n_f) AS BIGINT) AS n_t
        FROM gf GROUP BY o_orderpriority
    )"""

# One-hot cardinality ceiling: the vocabulary collect is bounded by the
# CATEGORY DOMAIN, and this guard keeps that claim honest — past it the
# encode belongs in q_feat_string_index + an embedding, and silently
# emitting 100k indicator columns would OOM the driver's plan, not the
# executors (each F.when is a Catalyst expression node).
ONEHOT_MAX_CARD = 1024


@register(
    "q_feat_string_index",
    oracle="""
    WITH counts AS (
        SELECT c_mktsegment, COUNT(*) AS n
        FROM customer GROUP BY c_mktsegment
    ),
    dict AS (
        SELECT c_mktsegment,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, c_mktsegment) - 1
                    AS BIGINT) AS seg_idx
        FROM counts
    )
    SELECT c.c_custkey, c.c_mktsegment, d.seg_idx
    FROM customer c JOIN dict d USING (c_mktsegment)
    """,
    tags=("Q1",),
)
def q_feat_string_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRING INDEXING — map each categorical label to a dense integer
    id, most-frequent-first (ties by label, for determinism): the
    MLlib StringIndexer frequencyDesc contract [PK], the step before
    any embedding lookup or tree split on a string column. Plan: ONE
    map-side-combined count aggregate down to the category domain
    (5 rows here, bounded by distinct labels at any sf), a
    ROW_NUMBER over that dict-sized frame (single-partition window on
    5 rows — deliberately NOT over the fact table), then a broadcast
    join back. The fact table is scanned once and never shuffled."""
    c = t(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment").agg(F.count("*").alias("n"))
    dict_w = Window.orderBy(F.col("n").desc(), F.col("c_mktsegment"))
    dic = counts.select(
        "c_mktsegment",
        (F.row_number().over(dict_w) - 1).cast("bigint").alias("seg_idx"),
    )
    return c.join(F.broadcast(dic), "c_mktsegment").select(
        "c_custkey", "c_mktsegment", "seg_idx"
    )


def _oh_name(value: str) -> str:
    """Deterministic indicator-column name for a category value."""
    return "oh_" + re.sub(r"[^0-9a-z]+", "_", value.lower()).strip("_")


@register(
    "q_feat_onehot",
    # The oracle hardcodes the TPC-H priority domain; the Spark side
    # derives it from the data — a mismatch (new/missing category)
    # fails the schema diff, which is exactly the drift signal a
    # production encoder needs.
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS oh_1_urgent,
           CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS BIGINT) AS oh_2_high,
           CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS BIGINT) AS oh_3_medium,
           CAST(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS BIGINT) AS oh_4_not_specified,
           CAST(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS BIGINT) AS oh_5_low
    FROM orders
    """,
    tags=("Q2",),
)
def q_feat_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-HOT ENCODING — expand a categorical column into one
    indicator column per vocabulary value (the MLlib OneHotEncoder
    shape [PK], dense spelling: column names derived from the values
    so downstream code is self-describing). The vocabulary is learned
    from the data with a bounded collect — distinct CATEGORY values,
    not rows (5 here; a categorical past ~10k values belongs in
    q_feat_string_index + an embedding, not one-hot). Sorted for a
    deterministic column order. Plan: one tiny distinct (the only
    shuffle, category-domain-sized), then the encode itself is pure
    map-side CASE WHEN over a single fact scan — no join, no shuffle,
    whole-stage-codegen all the way."""
    o = t(spark, sf_dir, "orders")
    # the +1 over-fetch detects an over-ceiling domain without ever
    # collecting it in full
    vocab_rows = (
        o.select("o_orderpriority").distinct().limit(ONEHOT_MAX_CARD + 1)
    ).collect()
    if len(vocab_rows) > ONEHOT_MAX_CARD:
        raise ValueError(
            f"one-hot cardinality exceeds {ONEHOT_MAX_CARD}: use"
            " q_feat_string_index + an embedding for high-card columns"
        )
    if any(r[0] is None for r in vocab_rows):
        # encoders consume post-imputation data: a silent oh_null
        # column would hide the upstream quality bug
        raise ValueError(
            "one-hot input contains NULL categories: impute or filter"
            " before encoding"
        )
    vocab = sorted(r[0] for r in vocab_rows)
    names = [_oh_name(v) for v in vocab]
    if len(set(names)) != len(names):
        # two values differing only in non-alphanumerics would emit
        # duplicate indicator columns Spark accepts silently
        dupes = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"one-hot sanitized column names collide: {dupes}"
        )
    indicators = [
        F.when(F.col("o_orderpriority") == v, 1)
        .otherwise(0)
        .cast("bigint")
        .alias(_oh_name(v))
        for v in vocab
    ]
    return o.select("o_orderkey", "o_orderpriority", *indicators)


@register(
    "q_feat_target_encode",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    g AS (
        SELECT o_orderpriority,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY o_orderpriority
    )
    SELECT p.o_orderkey, p.o_orderpriority, p.cents,
           CASE WHEN g.n > 1
                THEN CAST((g.s - p.cents) // (g.n - 1) AS BIGINT)
           END AS te_loo_c
    FROM pts p JOIN g USING (o_orderpriority)
    """,
    tags=("Q3",),
)
def q_feat_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT TARGET ENCODING (Micci-Barreca 2001 [PK]) —
    replace a categorical with the mean of the target over the OTHER
    rows of its category: te = (S_cat − y_own) / (n_cat − 1). The
    leave-one-out form is the leakage-free variant — a row never sees
    its own label — computed CLOSED-FORM from one category aggregate
    instead of the textbook per-row re-aggregation. Exact integers:
    cents in, BIGINT DIV out (dividend ≥ 0 since targets are
    positive, so Spark DIV and DuckDB // agree); singleton categories
    yield NULL rather than 0/0. Plan: one map-side-combined aggregate
    to category-domain size, broadcast join back, map-side
    arithmetic — the fact table is never shuffled, vs the naive
    window-partitioned-by-category spelling that exchanges every row
    on a 5-value (guaranteed-skew) key."""
    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        cents("o_totalprice").alias("cents"),
    )
    g = pts.groupBy("o_orderpriority").agg(
        F.sum("cents").cast("bigint").alias("s"),
        F.count("*").cast("bigint").alias("n"),
    )
    return pts.join(F.broadcast(g), "o_orderpriority").select(
        "o_orderkey",
        "o_orderpriority",
        "cents",
        F.when(
            F.col("n") > 1,
            F.expr("CAST((s - cents) DIV (n - 1) AS BIGINT)"),
        ).alias("te_loo_c"),
    )


@register(
    "q_feat_bucketize",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    bounds AS (
        SELECT CAST(MIN(cents) AS BIGINT) AS lo,
               CAST(MAX(cents) AS BIGINT) AS hi
        FROM pts
    )
    SELECT p.o_orderkey, p.cents,
           CAST(CASE WHEN b.hi > b.lo
                     THEN (p.cents - b.lo) * {BUCKETIZE_K} // (b.hi - b.lo + 1)
                     ELSE 0 END AS BIGINT) AS bucket
    FROM pts p CROSS JOIN bounds b
    """,
    tags=("Q4",),
)
def q_feat_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-WIDTH BUCKETIZATION — discretize a continuous feature into
    K fixed-width buckets over the observed [min, max] (the MLlib
    Bucketizer shape [PK] with data-derived splits): bucket =
    (x − lo)·K DIV (hi − lo + 1), all BIGINT, the +1 guaranteeing
    bucket ∈ [0, K) with the max value landing in bucket K−1 — no
    float edges for the two engines to disagree on. A degenerate
    (constant) column collapses to bucket 0 instead of dividing by
    zero. The equi-DEPTH sibling (quantile boundaries) is
    q_profile_equidepth in operators/analytics.py; equi-width is the
    one a trainer wants when bucket WIDTH must be interpretable.
    Plan: one global min/max aggregate (partial-agg to a single row),
    broadcast nested-loop join of that 1-row frame back, map-side
    assignment — one fact scan, zero fact shuffles."""
    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        cents("o_totalprice").alias("cents"),
    )
    bounds = pts.agg(
        F.min("cents").cast("bigint").alias("lo"),
        F.max("cents").cast("bigint").alias("hi"),
    )
    return pts.crossJoin(F.broadcast(bounds)).select(
        "o_orderkey",
        "cents",
        _price_bucket().alias("bucket"),
    )


@register(
    "q_feat_target_kfold",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 5
                    AS BIGINT) AS fold,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    {_FOLD_SUMS_SQL}
    SELECT p.o_orderkey, p.o_orderpriority, p.fold,
           CASE WHEN t.n_t > f.n_f
                THEN CAST((t.s_t - f.s_f) // (t.n_t - f.n_f) AS BIGINT)
           END AS te_oof_c
    FROM pts p
    JOIN gf f ON f.o_orderpriority = p.o_orderpriority AND f.fold = p.fold
    JOIN gt t ON t.o_orderpriority = p.o_orderpriority
    """,
    tags=("Q3", "M10"),
)
def q_feat_target_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD (out-of-fold) TARGET ENCODING — the cross-validated
    variant of q_feat_target_encode: each row's encoding is the target
    mean over the OTHER folds, te = (S_total − S_fold)/(n_total −
    n_fold), so a model evaluated on fold k never sees statistics
    computed from fold k (the leakage mode LOO cannot fix when the
    same row appears in train AND validation). Fold assignment is the
    q_split_kfold engine-portable md5-prefix hash — any engine
    reproduces the identical split from the key alone. Closed form
    from ONE (category × fold) aggregate — 25 cells here, bounded by
    domain × K at any scale — with the category totals derived from
    those cells, never a second fact pass. Plan: one
    map-side-combined aggregate, two broadcast joins back, map-side
    arithmetic; the fact table is scanned once and never shuffled.
    Exact BIGINT DIV on non-negative dividends (both engines
    truncate)."""
    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (md5_int(F.col("o_orderkey").cast("string"), 8) % 5).alias("fold"),
        cents("o_totalprice").alias("cents"),
    )
    # pinned 25-row (priority, fold) census: gt is its marginal —
    # unpinned, the gt subtree re-ran the md5-fold fact pass
    gf = pin(
        pts.groupBy("o_orderpriority", "fold")
        .agg(
            F.sum("cents").cast("bigint").alias("s_f"),
            F.count("*").cast("bigint").alias("n_f"),
        ),
        "q_feat_target_kfold.gf",
    )
    gt = gf.groupBy("o_orderpriority").agg(
        F.sum("s_f").cast("bigint").alias("s_t"),
        F.sum("n_f").cast("bigint").alias("n_t"),
    )
    return (
        pts.join(F.broadcast(gf), ["o_orderpriority", "fold"])
        .join(F.broadcast(gt), "o_orderpriority")
        .select(
            "o_orderkey",
            "o_orderpriority",
            "fold",
            F.when(
                F.col("n_t") > F.col("n_f"),
                F.expr("CAST((s_t - s_f) DIV (n_t - n_f) AS BIGINT)"),
            ).alias("te_oof_c"),
        )
    )


@register(
    "q_pipeline_features",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(year(o_orderdate) AS BIGINT) AS yr,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 5
                    AS BIGINT) AS fold
        FROM orders
    ),
    counts AS (
        SELECT o_orderpriority, COUNT(*) AS cnt FROM pts
        GROUP BY o_orderpriority
    ),
    dict AS (
        SELECT o_orderpriority,
               CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, o_orderpriority)
                    - 1 AS BIGINT) AS prio_idx
        FROM counts
    ),
    {_FOLD_SUMS_SQL},
    bounds AS (
        SELECT CAST(MIN(cents) AS BIGINT) AS lo,
               CAST(MAX(cents) AS BIGINT) AS hi
        FROM pts
    )
    SELECT p.o_orderkey, p.fold, d.prio_idx,
           CAST(CASE WHEN p.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                AS BIGINT) AS oh_1_urgent,
           CAST(p.yr - 1998 AS BIGINT) AS yr_c,
           CASE WHEN t.n_t > f.n_f
                THEN CAST((t.s_t - f.s_f) // (t.n_t - f.n_f) AS BIGINT)
           END AS te_oof_c,
           CAST(CASE WHEN b.hi > b.lo
                     THEN (p.cents - b.lo) * {BUCKETIZE_K} // (b.hi - b.lo + 1)
                     ELSE 0 END AS BIGINT) AS price_bucket
    FROM pts p
    JOIN dict d USING (o_orderpriority)
    JOIN gf f ON f.o_orderpriority = p.o_orderpriority AND f.fold = p.fold
    JOIN gt t ON t.o_orderpriority = p.o_orderpriority
    CROSS JOIN bounds b
    """,
    tags=("composite", "Q1", "Q2", "Q3", "Q4", "Q6"),
)
def q_pipeline_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEATURE-MATRIX CAPSTONE — the Q-family transforms composed into
    ONE lazy plan producing a training matrix: per order the k-fold
    assignment, the frequency string index, a one-hot indicator, the
    centered year, the out-of-fold target encoding and the equi-width
    price bucket — the frame a trainer (q_train_linreg_gd's shape)
    consumes directly. The point the capstone proves (the
    q_pipeline_curation discipline): the transforms compose WITHOUT
    driver barriers — every dictionary/bounds aggregate hangs off the
    same plan and broadcasts back, so Catalyst sees one tree, scans
    the fact table for the feature rows ONCE, and the only exchanges
    are the dict-sized aggregates. Oracle = all stages as chained
    CTEs, bit-exact. (The one-hot stage contributes a single
    representative indicator here: the full dynamic-vocabulary
    expansion with its cardinality/NULL/collision guards is
    q_feat_onehot's own contract and would only widen this matrix.)"""
    pts = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("yr"),
        cents("o_totalprice").alias("cents"),
        (md5_int(F.col("o_orderkey").cast("string"), 8) % 5).alias("fold"),
    )
    # ONE pinned (priority, fold) census (≤ 5x5 rows) carries every
    # dictionary/bounds aggregate the matrix needs: the string-index
    # counts, the out-of-fold sums, the totals and the global price
    # bounds are all exact integer marginals of it (kendall rule) —
    # unpinned, each of the four aggregates re-paid the fact scan.
    g2 = pin(
        pts.groupBy("o_orderpriority", "fold")
        .agg(
            F.sum("cents").cast("bigint").alias("s_f"),
            F.count("*").cast("bigint").alias("n_f"),
            F.min("cents").cast("bigint").alias("mn"),
            F.max("cents").cast("bigint").alias("mx"),
        ),
        "q_pipeline_features.g2",
    )
    counts = g2.groupBy("o_orderpriority").agg(F.sum("n_f").alias("cnt"))
    dict_w = Window.orderBy(F.col("cnt").desc(), F.col("o_orderpriority"))
    dic = counts.select(
        "o_orderpriority",
        (F.row_number().over(dict_w) - 1).cast("bigint").alias("prio_idx"),
    )
    gf = g2.select("o_orderpriority", "fold", "s_f", "n_f")
    gt = g2.groupBy("o_orderpriority").agg(
        F.sum("s_f").cast("bigint").alias("s_t"),
        F.sum("n_f").cast("bigint").alias("n_t"),
    )
    bounds = g2.agg(
        F.min("mn").cast("bigint").alias("lo"),
        F.max("mx").cast("bigint").alias("hi"),
    )
    return (
        pts.join(F.broadcast(dic), "o_orderpriority")
        .join(F.broadcast(gf), ["o_orderpriority", "fold"])
        .join(F.broadcast(gt), "o_orderpriority")
        .crossJoin(F.broadcast(bounds))
        .select(
            "o_orderkey",
            "fold",
            "prio_idx",
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .cast("bigint")
            .alias("oh_1_urgent"),
            (F.col("yr") - 1998).cast("bigint").alias("yr_c"),
            F.when(
                F.col("n_t") > F.col("n_f"),
                F.expr("CAST((s_t - s_f) DIV (n_t - n_f) AS BIGINT)"),
            ).alias("te_oof_c"),
            _price_bucket().alias("price_bucket"),
        )
    )


@register(
    "q_feat_robust_scale",
    oracle=f"""
    WITH c AS (
        SELECT l_orderkey, l_linenumber, l_returnflag AS g,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
    ),
    {_GROUP_RANKS_SQL},
    quart AS (
        SELECT n.g,
               MAX(CASE WHEN r.rn = (n.cnt * 25 + 99) // 100
                        THEN r.cents END) AS q25,
               MAX(CASE WHEN r.rn = (n.cnt * 50 + 99) // 100
                        THEN r.cents END) AS q50,
               MAX(CASE WHEN r.rn = (n.cnt * 75 + 99) // 100
                        THEN r.cents END) AS q75
        FROM n JOIN ranked r ON r.g = n.g
        GROUP BY n.g
    )
    SELECT c.l_orderkey, c.l_linenumber, c.g, c.cents,
           CAST((c.cents - q.q50) * 1000000
                // GREATEST(q.q75 - q.q25, 1) AS BIGINT) AS robust_e6
    FROM c JOIN quart q ON q.g = c.g
    """,
    tags=("Q1", "D9", "scale"),
)
def q_feat_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST SCALING — (x − median) / IQR per group (the sklearn
    RobustScaler contract [PK]: outlier-insensitive, unlike the
    min-max/z-score pair in q_window_normalize), in exact e6 fixed
    point: the three quartiles come from operators/aggregates.py's
    _select_exact_ranks (histogram selection — rank ceil(q·n/100),
    the percentile_disc convention), so no per-group sort ever
    co-locates a group, then the scale itself is one broadcast join
    back + map-side integer arithmetic (truncating division agrees
    across engines for the negative deviations below the median; a
    degenerate zero-IQR group divides by 1 instead of exploding).
    The Q-family shape end to end: tiny selection state → broadcast →
    one fact scan, zero fact shuffles."""
    pts = pin(
        t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_returnflag").alias("g"),
            cents("l_extendedprice").alias("cents"),
        ),
        "q_feat_robust_scale.pts",
    )
    # quartile selection + the final scale share one materialization
    init, got = select_group_quantiles(
        pts.select("g", "cents"), (25, 50, 75)
    )
    quart = [
        (g, got[f"{g}:25"], got[f"{g}:50"], got[f"{g}:75"])
        for g in sorted(init)
    ]
    qdf = local_df(
        pts.sparkSession, quart,
        "g STRING, q25 BIGINT, q50 BIGINT, q75 BIGINT",
    )
    return pts.join(F.broadcast(qdf), "g").select(
        "l_orderkey",
        "l_linenumber",
        "g",
        "cents",
        F.expr(
            "CAST((cents - q50) * 1000000"
            " DIV GREATEST(q75 - q25, 1L) AS BIGINT)"
        ).alias("robust_e6"),
    )


@register(
    "q_feat_chi2_select",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
        FROM documents
    ),
    n_tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
              FROM documents),
    per_lang AS (
        SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nl
        FROM documents GROUP BY lang
    ),
    aw AS (
        SELECT w, lang, CAST(COUNT(*) AS BIGINT) AS a
        FROM tok GROUP BY w, lang
    ),
    wd AS (SELECT w, CAST(SUM(a) AS BIGINT) AS wdocs FROM aw GROUP BY w),
    cells AS (
        SELECT aw.w, aw.lang, aw.a,
               wd.wdocs - aw.a AS b,
               per_lang.nl - aw.a AS c,
               n_tot.n - per_lang.nl - (wd.wdocs - aw.a) AS d,
               n_tot.n AS n
        FROM aw JOIN wd ON wd.w = aw.w
                JOIN per_lang ON per_lang.lang = aw.lang, n_tot
        WHERE wd.wdocs >= 5 AND wd.wdocs <= n_tot.n - 5
    ),
    chi AS (
        SELECT lang, w, a,
               CAST(ROUND(
                   (CAST(n AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)
                    * CAST(a * d - b * c AS DOUBLE))
                   / (CAST((a + b) * (c + d) AS DOUBLE)
                      * CAST((a + c) * (b + d) AS DOUBLE))
                   * 1000000, 0) AS BIGINT) AS chi2_e6,
               CASE WHEN a * d > b * c THEN 'pos' ELSE 'neg' END AS assoc
        FROM cells
    )
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, w AS word, chi2_e6, a AS n_docs,
           assoc
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                     ORDER BY chi2_e6 DESC, w) AS rnk
        FROM chi
    )
    WHERE rnk <= 3
    ORDER BY lang, rnk
    """,
    tags=("K4", "D1", "Q"),
)
def q_feat_chi2_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE feature selection — the classic filter-method ranking
    of vocabulary features against a class label (per language, the 3
    tokens whose document-presence is most dependent on the label):
    the one-vs-rest 2×2 contingency (a,b,c,d) per (word, label) and
    chi2 = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)), with the df ∈ [5, N−5]
    support filter every practical selector applies (degenerate
    all-doc words have an empty complement column). The `assoc` sign
    (ad vs bc) says whether the feature marks the class or its
    absence.

    Determinism: contingency cells are exact BIGINTs (doc-level
    DISTINCT presence, not term frequency); ONE double expression per
    (word,label) pair — dictionary-sized, same discipline as BM25 idf
    — rounded to e6, so ranking ties are impossible to mis-order
    (tie-break on the word itself).

    Plan: one distinct-presence aggregate over exploded tokens (the
    only corpus-sized shuffle), then everything is vocabulary-sized:
    word totals derive from the (word,label) cells (no second corpus
    pass), label totals are a 5-row broadcast, and top-3-per-label
    plans as a bounded window over the dictionary. At 100 TB the
    corpus is touched once; feature stats never exceed
    vocab × |labels| rows."""
    d = t(spark, sf_dir, "documents")
    n_total = d.select("doc_id").distinct().count()  # bounded scalar
    per_lang = d.groupBy("lang").agg(
        F.countDistinct("doc_id").cast("bigint").alias("nl")
    )
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    # pinned (word, label) presence census — vocab x 5 rows; its word
    # marginal feeds the complement columns, and unpinned the two
    # consumers each re-ran the tokenize + distinct over the corpus
    aw = pin(
        tok.groupBy("w", "lang")
        .agg(F.count("*").cast("bigint").alias("a")),
        "q_feat_chi2_select.aw",
    )
    wd = aw.groupBy("w").agg(F.sum("a").cast("bigint").alias("wdocs"))
    cells = (
        aw.join(wd, "w")
        .join(F.broadcast(per_lang), "lang")
        .filter((F.col("wdocs") >= 5) & (F.col("wdocs") <= n_total - 5))
        .select(
            "lang",
            "w",
            "a",
            (F.col("wdocs") - F.col("a")).alias("b"),
            (F.col("nl") - F.col("a")).alias("c"),
            (F.lit(n_total) - F.col("nl") - (F.col("wdocs") - F.col("a")))
            .alias("d"),
        )
    )
    chi = cells.select(
        "lang",
        "w",
        "a",
        F.round(
            (
                F.lit(float(n_total))
                * (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast(
                    "double"
                )
                * (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast(
                    "double"
                )
            )
            / (
                ((F.col("a") + F.col("b")) * (F.col("c") + F.col("d"))).cast(
                    "double"
                )
                * ((F.col("a") + F.col("c")) * (F.col("b") + F.col("d"))).cast(
                    "double"
                )
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("chi2_e6"),
        F.when(
            F.col("a") * F.col("d") > F.col("b") * F.col("c"), "pos"
        )
        .otherwise("neg")
        .alias("assoc"),
    )
    w_rank = Window.partitionBy("lang").orderBy(F.desc("chi2_e6"), "w")
    return (
        chi.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") <= 3)
        .select(
            "lang",
            F.col("rnk").cast("bigint").alias("rnk"),
            F.col("w").alias("word"),
            "chi2_e6",
            F.col("a").alias("n_docs"),
            "assoc",
        )
    )


@register(
    "q_feat_gini_gain",
    oracle="""
    WITH x AS (
        SELECT event_type AS y,
               CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS f_kmod,
               user_id % 2 AS f_parity,
               CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT) AS f_dow,
               CAST(ROUND(value * 100, 0) AS BIGINT) // 10000 AS f_band
        FROM events
    ),
    melted AS (
        SELECT 'f_kmod' AS feature, f_kmod AS v, y FROM x
        UNION ALL SELECT 'f_parity', f_parity, y FROM x
        UNION ALL SELECT 'f_dow', f_dow, y FROM x
        UNION ALL SELECT 'f_band', f_band, y FROM x
    ),
    cells AS (
        SELECT feature, v, y, CAST(COUNT(*) AS DECIMAL(38,0)) AS c
        FROM melted GROUP BY feature, v, y
    ),
    per_v AS (
        SELECT feature, v,
               CAST(SUM(c) AS HUGEINT) AS nv,
               CAST(SUM(c * c) AS HUGEINT) AS a
        FROM cells GROUP BY feature, v
    ),
    term AS (
        SELECT feature,
               CAST(SUM(1000000 * (a // nv)
                    + CAST(ROUND(1000000.0 * CAST(a % nv AS DOUBLE)
                                 / CAST(nv AS DOUBLE), 0) AS HUGEINT))
                    AS HUGEINT) AS a_e6,
               CAST(SUM(nv) AS HUGEINT) AS n
        FROM per_v GROUP BY feature
    ),
    cls AS (
        SELECT y, CAST(COUNT(*) AS HUGEINT) AS cy FROM x GROUP BY y
    ),
    base AS (
        SELECT CAST(SUM(cy * cy) AS HUGEINT) AS c2,
               CAST(SUM(cy) AS HUGEINT) AS n
        FROM cls
    ),
    gain AS (
        SELECT t.feature,
               CAST((t.a_e6
                     - (1000000 * (b.c2 // b.n)
                        + CAST(ROUND(1000000.0
                              * CAST(b.c2 % b.n AS DOUBLE)
                              / CAST(b.n AS DOUBLE), 0) AS HUGEINT)))
                    // b.n AS BIGINT) AS gain_e6
        FROM term t CROSS JOIN base b
    )
    SELECT feature, gain_e6,
           CAST(ROW_NUMBER() OVER (ORDER BY gain_e6 DESC, feature)
                AS BIGINT) AS rank
    FROM gain ORDER BY rank
    """,
    tags=("P7", "Q8", "M14"),
)
def q_feat_gini_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI-GAIN FEATURE RANKING — the fully-RATIONAL sibling of the
    chi-square selector (P7): rank four candidate features by how much
    splitting on them reduces the label's Gini impurity (CART's
    criterion, Breiman 1984; the ranking layer over Q8's single-stump
    split finder). The identity gain = [sum_x (sum_c c_xc^2)/n_x -
    (sum_c C_c^2)/N] / N removes every probability: per-feature-value
    purity A_x/n_x goes through the e6 DIV/MOD fixing
    (operators.stats.fix_e6), the baseline term likewise, and the
    gain is an exact integer FLOOR quotient. Ranking ties break on
    feature name — no float anywhere, unlike the textbook p log p
    spelling whose logarithms are not correctly-rounded across
    engines.

    Plan: a 4x map-side melt (stack) then ONE census to the
    (feature, value, label) domain — bounded by the feature domains
    (5+2+7+~5 values x 5 labels), never by rows; everything after is
    arithmetic on that tiny frame. Fact scanned once."""
    from ..operators.stats import fix_e6

    x = t(spark, sf_dir, "events").withColumn("c", cents("value")).select(
        F.col("event_type").alias("y"),
        (
            F.expr("CAST(from_json(props, 'k INT').k AS BIGINT)") % 5
        ).alias("f_kmod"),
        (F.col("user_id") % 2).alias("f_parity"),
        F.expr("CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS BIGINT)").alias(
            "f_dow"
        ),
        F.expr("c div 10000").alias("f_band"),
    )
    melted = x.selectExpr(
        "stack(4, 'f_kmod', f_kmod, 'f_parity', f_parity, "
        "'f_dow', f_dow, 'f_band', f_band) AS (feature, v)",
        "y",
    )
    cells = melted.groupBy("feature", "v", "y").agg(
        F.count("*").cast("decimal(38,0)").alias("c")
    )
    per_v = cells.groupBy("feature", "v").agg(
        F.sum("c").cast("decimal(38,0)").alias("nv"),
        F.sum(F.col("c") * F.col("c")).cast("decimal(38,0)").alias("a"),
    )
    term = per_v.groupBy("feature").agg(
        F.sum(fix_e6(F.col("a"), F.col("nv")))
        .cast("decimal(38,0)")
        .alias("a_e6"),
        F.sum("nv").cast("decimal(38,0)").alias("n"),
    )
    cls = x.groupBy("y").agg(
        F.count("*").cast("decimal(38,0)").alias("cy")
    )
    base = cls.agg(
        F.sum(F.col("cy") * F.col("cy")).cast("decimal(38,0)").alias("c2"),
        F.sum("cy").cast("decimal(38,0)").alias("nn"),
    )
    gain = term.crossJoin(F.broadcast(base)).select(
        "feature",
        F.call_function(
            "div", F.col("a_e6") - fix_e6(F.col("c2"), F.col("nn")), F.col("nn")
        )
        .cast("bigint")
        .alias("gain_e6"),
    )
    w = Window.orderBy(F.desc("gain_e6"), F.asc("feature"))
    return gain.select(
        "feature",
        "gain_e6",
        F.row_number().over(w).cast("bigint").alias("rank"),
    )
