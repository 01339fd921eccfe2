"""Distributed model TRAINING (SURVEY.md §2-Q5, round 8): full-batch
gradient descent on a linear model, exact fixed-point arithmetic end
to end — the complement of ml/inference.py (which serves models) and
ml/cluster.py (which trains KMeans the same way: broadcast-literal
parameters, one distributed aggregate per iteration, driver holds
only the parameter vector).

Why exact integers for a TRAINER: float GD is order-dependent (the
partial-sum tree changes with partitioning, so two runs of the same
job on different cluster sizes produce different weights — the
classic irreproducible-training bug). Holding weights in e6 fixed
point and gradients in BIGINT makes every iteration a pure function
of the data: bit-identical on 1 executor or 1000, and therefore
oracle-checkable in DuckDB by unrolling the iterations as chained
CTEs (the q_cluster_kmeans / q_graph_pagerank pattern).

Scale shape per iteration: ONE map-side-combined aggregate over the
fact table producing d+2 BIGINT sums (d = feature count) — no
shuffle of rows, no Python in the hot path, gradient traffic is
O(d) per partition exactly like MLlib's treeAggregate [PK]. The
driver's only state is the d-vector of weights; T iterations = T
scans (production caches the feature frame once).

Integer-division discipline: every Spark-side quotient is
``operators.stats.trunc_div`` (an exact DECIMAL quotient truncated
toward zero; Spark's BIGINT ``div`` silently wraps past 2^63), the
oracles spell it as a sign-split DuckDB ``//`` on absolute values, and
the driver-side GD loop uses ``_tdiv`` below, so negative gradients
divide identically in all three places.

Oracle fragments: the tree oracles are generated level by level, the
DuckDB twin of the Spark tree builders: ``_level_sql`` (a level's
split census, twin of ``_stump_split_scores``), ``_route_sql``
(``_route_root`` / ``_route``) and ``_tree_oracle`` (the best split per
node, ``_best_splits``; depth 3 is depth 2 plus one level).
``_gbt_cum_sql`` is a boosting round's running split sums and
``_LINE_XY_SQL`` the ridge/lasso design.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import local_df, pin
from ..operators.stats import D38, _xy_moments_sql, comoment, moment_census, trunc_div
from ..registry import register
from ..sources.tables import cents, t

# Shared hyperparameters — module-level so the Spark loop, the oracle
# generator, and the pytest self-checks read ONE definition.
GD_ITERS = 6
GD_LR_DEN = 4  # learning rate = 1/4, below 2/λmax for these features

# lineitem's (x1, x2, y) = (quantity, discount cents, price cents), the
# design the ridge and lasso oracles fit.
_LINE_XY_SQL = """
            SELECT CAST(l_quantity AS BIGINT) AS x1,
                   CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS x2,
                   CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS y
            FROM lineitem
        """


def _gbt_cum_sql(k: int) -> str:
    """The ``w{k}`` CTE of boosting round `k`: per feature f and value v
    of the census ``c{k}`` (n, s) the left running count and sum (nl,
    sl) and the feature totals (nt, st)."""
    return f"""w{k} AS (
        SELECT f, v,
               SUM(n) OVER (PARTITION BY f ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
               SUM(s) OVER (PARTITION BY f ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sl,
               SUM(n) OVER (PARTITION BY f) AS nt,
               SUM(s) OVER (PARTITION BY f) AS st
        FROM c{k}
    )"""


def _tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — the Spark DIV /
    DuckDB ``//`` semantics (Python's ``//`` floors, which differs on
    negative dividends)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


# Feature/target spelling of the oracle (the Spark query spells the
# same columns): x1 = priority rank centered at 0 (the leading digit of
# o_orderpriority, 1..5 → -2..2), x2 = order year centered at 1998
# (fixture range 1995..2001 → -3..3), y = total price in cents DIV
# 1000. Centering keeps the off-diagonal Gram terms small so the
# plain (non-preconditioned) GD step is stable.
_PTS_SQL = """
        SELECT CAST(CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 3
                    AS BIGINT) AS x1,
               CAST(year(o_orderdate) - 1998 AS BIGINT) AS x2,
               CAST(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) DIV 1000
                    AS BIGINT) AS y
        FROM orders
"""


def _linreg_oracle() -> str:
    """The full training loop as one chained-CTE DuckDB query: each
    iteration k computes the gradient sums under the previous
    weights (a CROSS JOIN against the 1-row weight state), then the
    truncated-division update — the same exact integer sequence the
    Spark driver loop produces."""
    ctes = [
        f"pts AS ({_PTS_SQL.replace('DIV', '//')})",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,"
        " CAST(0 AS BIGINT) AS w2)",
    ]
    rows = []
    for k in range(1, GD_ITERS + 1):
        ctes.append(
            f"""g{k} AS (
        SELECT w.w0, w.w1, w.w2,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(w.w0 + p.x1 * w.w1 + p.x2 * w.w2 - p.y * 1000000)
                    AS BIGINT) AS s0,
               CAST(SUM(p.x1 * (w.w0 + p.x1 * w.w1 + p.x2 * w.w2
                                - p.y * 1000000)) AS BIGINT) AS s1,
               CAST(SUM(p.x2 * (w.w0 + p.x1 * w.w1 + p.x2 * w.w2
                                - p.y * 1000000)) AS BIGINT) AS s2,
               CAST(SUM(abs(w.w0 + p.x1 * w.w1 + p.x2 * w.w2
                            - p.y * 1000000)) AS BIGINT) AS sa
        FROM pts p CROSS JOIN w{k - 1} w
        GROUP BY w.w0, w.w1, w.w2)"""
        )
        ctes.append(
            f"""w{k} AS (
        SELECT CAST(w0 - (s0 // n) // {GD_LR_DEN} AS BIGINT) AS w0,
               CAST(w1 - (s1 // n) // {GD_LR_DEN} AS BIGINT) AS w1,
               CAST(w2 - (s2 // n) // {GD_LR_DEN} AS BIGINT) AS w2,
               CAST(sa // n AS BIGINT) AS mae_e6
        FROM g{k})"""
        )
        rows.append(
            f"SELECT CAST({k} AS BIGINT) AS iter, w0 AS w0_e6,"
            f" w1 AS w1_e6, w2 AS w2_e6, mae_e6 FROM w{k}"
        )
    # final row: MAE under the FINAL weights (no update) — the
    # trained model's residual, what a validation pass would report
    ctes.append(
        f"""gfin AS (
        SELECT w.w0, w.w1, w.w2,
               CAST(SUM(abs(w.w0 + p.x1 * w.w1 + p.x2 * w.w2
                            - p.y * 1000000)) // COUNT(*) AS BIGINT)
                   AS mae_e6
        FROM pts p CROSS JOIN w{GD_ITERS} w
        GROUP BY w.w0, w.w1, w.w2)"""
    )
    rows.append(
        f"SELECT CAST({GD_ITERS + 1} AS BIGINT) AS iter, w0 AS w0_e6,"
        " w1 AS w1_e6, w2 AS w2_e6, mae_e6 FROM gfin"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(rows)


@register("q_train_linreg_gd", oracle=_linreg_oracle, tags=("Q5", "J1"))
def q_train_linreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED LINEAR-MODEL TRAINING — full-batch gradient descent
    on ŷ = w0 + w1·x1 + w2·x2 (priority rank, order year → total
    price), weights in e6 fixed point, every iteration exact BIGINT:
    grad_j = Σ xj·resid, w_j ← w_j − tdiv(tdiv(grad_j, n), 4). The
    result is the TRAINING LOG — per iteration the entry MAE (the
    residual the gradient saw) and the post-update weights, plus a
    final validation row (iter = T+1) scoring the trained weights —
    the convergence curve a practitioner actually monitors; MAE
    decreases monotonically (pinned in pytest). Bit-identical on any
    partitioning because integer sums are order-free — the
    reproducible-training property float GD lacks — and therefore
    exactly reproducible by the unrolled-CTE DuckDB oracle.

    Plan per iteration: one map-side-combined aggregate to FIVE BIGINT
    scalars (treeAggregate shape [PK]); rows never shuffle, Python
    never touches them, driver state = 3 ints. The feature trio is
    pinned once and every iteration aggregates the materialized
    columns (round 12 — previously re-derived per scan; T+1 = 8
    consumers, and it is the production shape the docstring always
    promised). BIGINT headroom:
    |resid| ≤ 5e10 e6-units × 1.5e7 rows (sf10) ≈ 2e18 < 2⁶³; past
    that the sums move to DECIMAL(38,0) exactly like q_dedup_semantic's
    128-bit cosine arithmetic."""
    pts = pin(
        t(spark, sf_dir, "orders").select(
            F.expr("CAST(CAST(substring(o_orderpriority, 1, 1) AS BIGINT) - 3 AS BIGINT)")
            .alias("x1"),
            F.expr("CAST(year(o_orderdate) - 1998 AS BIGINT)").alias("x2"),
            trunc_div(cents("o_totalprice"), F.lit(1000))
            .cast("bigint")
            .alias("y"),
        ),
        "q_train_linreg_gd.pts",
    )
    w = [0, 0, 0]
    log_rows = []
    for k in range(1, GD_ITERS + 1):
        resid = F.lit(w[0]) + F.col("x1") * w[1] + F.col("x2") * w[2] - (
            F.col("y") * F.lit(1_000_000)
        )
        s = pts.agg(
            F.count("*").alias("n"),
            F.sum(resid).alias("s0"),
            F.sum(F.col("x1") * resid).alias("s1"),
            F.sum(F.col("x2") * resid).alias("s2"),
            F.sum(F.abs(resid)).alias("sa"),
        ).collect()[0]
        mae = _tdiv(int(s["sa"]), int(s["n"]))
        w = [
            w[j] - _tdiv(_tdiv(int(s[f"s{j}"]), int(s["n"])), GD_LR_DEN)
            for j in range(3)
        ]
        log_rows.append((k, w[0], w[1], w[2], mae))
    resid = F.lit(w[0]) + F.col("x1") * w[1] + F.col("x2") * w[2] - (
        F.col("y") * F.lit(1_000_000)
    )
    fin = pts.agg(
        F.count("*").alias("n"), F.sum(F.abs(resid)).alias("sa")
    ).collect()[0]
    log_rows.append(
        (GD_ITERS + 1, w[0], w[1], w[2], _tdiv(int(fin["sa"]), int(fin["n"])))
    )
    return local_df(
        spark, log_rows,
        "iter BIGINT, w0_e6 BIGINT, w1_e6 BIGINT, w2_e6 BIGINT,"
        " mae_e6 BIGINT",
    )


# Naive Bayes: deterministic hash-free train/test split on doc_id —
# fold 0 (doc_id % NB_FOLD == 0) is held out, the rest trains. Shared
# by the Spark plan and the oracle (one definition, like GD_ITERS).
NB_FOLD = 5


@register(
    "q_train_naive_bayes",
    oracle=f"""
    WITH train AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % {NB_FOLD} <> 0
    ),
    test AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % {NB_FOLD} = 0
    ),
    ttok AS (
        SELECT lang, UNNEST(string_split(text, ' ')) AS word FROM train
    ),
    cw AS (SELECT lang, word, COUNT(*) AS c FROM ttok GROUP BY lang, word),
    tl AS (SELECT lang, COUNT(*) AS t FROM ttok GROUP BY lang),
    vocab AS (SELECT DISTINCT word FROM ttok),
    vsize AS (SELECT COUNT(*) AS v FROM vocab),
    model AS (
        SELECT l.lang, vo.word,
               CAST(ROUND(LN(CAST(COALESCE(cw.c, 0) + 1 AS DOUBLE)
                             / CAST(l.t + vs.v AS DOUBLE)) * 1000000, 0)
                    AS BIGINT) AS lp
        FROM tl l CROSS JOIN vocab vo CROSS JOIN vsize vs
        LEFT JOIN cw ON cw.lang = l.lang AND cw.word = vo.word
    ),
    prior AS (
        SELECT lang,
               CAST(ROUND(LN(CAST(COUNT(*) AS DOUBLE)
                             / CAST((SELECT COUNT(*) FROM train) AS DOUBLE))
                          * 1000000, 0) AS BIGINT) AS lp0
        FROM train GROUP BY lang
    ),
    dtok AS (
        SELECT doc_id, word, COUNT(*) AS k
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
              FROM test)
        GROUP BY doc_id, word
    ),
    scores AS (
        SELECT d.doc_id, m.lang, p.lp0 + SUM(d.k * m.lp) AS score
        FROM dtok d
        JOIN model m ON m.word = d.word
        JOIN prior p ON p.lang = m.lang
        GROUP BY d.doc_id, m.lang, p.lp0
    ),
    pred AS (
        SELECT doc_id, lang AS pred_lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, lang) AS rn
        FROM scores
    )
    SELECT p.doc_id, p.pred_lang, te.lang AS true_lang,
           p.pred_lang = te.lang AS correct
    FROM pred p JOIN test te ON te.doc_id = p.doc_id
    WHERE p.rn = 1 ORDER BY p.doc_id
    """,
    tags=("Q5", "K4", "J1"),
)
def q_train_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTINOMIAL NAIVE BAYES — train on 4/5 of the corpus (doc_id
    mod {NB_FOLD} != 0), predict the held-out fold's lang label: the
    classic first text classifier, and the one whose training IS a
    pure aggregation (per-(class, word) counts), making it the
    canonical "training as a groupBy" distributed ML shape. Laplace
    log-likelihoods log((c+1)/(T_l+V)) and class priors are e6-FIXED
    AT THE MODEL-TABLE LEVEL (vocab x 5 langs, a bounded dictionary —
    the q_select_dsir fixing), so scoring is exact BIGINT
    sum-of-products and the argmax (ties broken by lang, stated) is
    driver-reproducible bit-for-bit. Out-of-vocabulary test tokens are
    dropped by the model join (standard NB practice), and a test doc
    of ONLY OOV tokens drops out entirely — stated, not hidden; the
    fixture vocabulary is shared so none does. The labels here are
    mechanically random w.r.t. the text, so accuracy hovers at chance
    — the query pins the ALGORITHM, not a modeling claim.

    Plan: training = two map-side-combined token censuses (per-class
    and per-(class, word)); the smoothed model is a dictionary-sized
    cross of bounded dims (class count x vocabulary — the
    q_cluster_kmeans centroid-cross shape, allowlisted); scoring
    broadcasts the model onto ONE pass over the test token counts and
    aggregates per (doc, class). The corpus is never shuffled — only
    dictionary-sized partials and per-doc score rows move."""
    docs = t(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % NB_FOLD != 0)
    test = docs.filter(F.col("doc_id") % NB_FOLD == 0)
    ttok = train.select("lang", F.explode(F.split("text", " ")).alias("word"))
    # pinned (lang, word) token census — dictionary-bounded (vocab x 5
    # langs); the per-class totals, the vocabulary and its size are its
    # exact marginals (kendall rule), so training tokenizes the corpus
    # ONCE instead of once per aggregate.
    cw = pin(
        ttok.groupBy("lang", "word")
        .agg(F.count("*").alias("c")),
        "q_train_naive_bayes.cw",
    )
    tl = cw.groupBy("lang").agg(F.sum("c").alias("t"))
    vocab = cw.select("word").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    model = (
        tl.crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(cw, ["lang", "word"], "left")
        .select(
            "lang",
            "word",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                    / (F.col("t") + F.col("v")).cast("double")
                )
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("lp"),
        )
    )
    # doc-level class priors: two narrow (doc_id, lang) scans — cheap
    # columnar reads at any scale, so no pin (unlike the tokenize
    # census above)
    n_train = train.agg(F.count("*").alias("nt"))
    prior = (
        train.groupBy("lang")
        .agg(F.count("*").alias("nl"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.round(
                F.log(F.col("nl").cast("double") / F.col("nt").cast("double"))
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("lp0"),
        )
    )
    dtok = (
        test.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("k"))
    )
    scores = (
        dtok.join(F.broadcast(model), "word")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("k") * F.col("lp")).alias("s"))
        .join(F.broadcast(prior), "lang")
        .select("doc_id", "lang", (F.col("lp0") + F.col("s")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    pred = scores.select(
        "doc_id",
        F.col("lang").alias("pred_lang"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return (
        pred.join(test.select("doc_id", F.col("lang").alias("true_lang")), "doc_id")
        .select(
            "doc_id",
            "pred_lang",
            "true_lang",
            (F.col("pred_lang") == F.col("true_lang")).alias("correct"),
        )
    )


@register(
    "q_train_decision_stump",
    oracle="""
    WITH base AS (
        SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ),
    long AS (
        SELECT 'quantity' AS feature, qty AS val, y FROM base
        UNION ALL
        SELECT 'discount' AS feature, disc AS val, y FROM base
    ),
    per_v AS (
        SELECT feature, val,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM long GROUP BY feature, val
    ),
    cum AS (
        SELECT feature, val,
               CAST(SUM(pos) OVER (PARTITION BY feature ORDER BY val
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS lp,
               CAST(SUM(neg) OVER (PARTITION BY feature ORDER BY val
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS lneg,
               CAST(SUM(pos) OVER (PARTITION BY feature) AS BIGINT) AS tp,
               CAST(SUM(neg) OVER (PARTITION BY feature) AS BIGINT) AS tn
        FROM per_v
    ),
    splits AS (
        SELECT feature, val AS threshold,
               lp + lneg AS n_left,
               (tp - lp) + (tn - lneg) AS n_right,
               CAST(ROUND((2.0 * (
                       CAST(lp * lneg AS DOUBLE)
                           / CAST(lp + lneg AS DOUBLE)
                     + CAST((tp - lp) * (tn - lneg) AS DOUBLE)
                           / CAST((tp - lp) + (tn - lneg) AS DOUBLE)
                   ) / CAST(tp + tn AS DOUBLE)) * 1000000, 0) AS BIGINT)
                   AS gini_e6
        FROM cum
        WHERE lp + lneg > 0 AND (tp - lp) + (tn - lneg) > 0
    )
    SELECT * FROM splits ORDER BY gini_e6, feature, threshold LIMIT 5
    """,
    tags=("Q5", "D9", "E3"),
)
def q_train_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP SPLIT FINDING — the inner loop of every
    histogram-based tree learner (LightGBM/XGBoost hist mode [PK]):
    for each candidate (feature, threshold <= v) split of lineitem on
    the binary label returnflag='R', the weighted Gini impurity, with
    the 5 best splits returned. The distributed trick the query pins:
    split evaluation needs NO per-split scan — ONE census down to the
    (feature, value) domain gives per-value (pos, neg), a cumulative
    sum over that domain-sized frame yields every threshold's left
    contingency simultaneously, and right = total - left. The Gini
    ladder is computed from exact BIGINT contingencies; the one float
    expression is evaluated in the identical operation order in both
    engines on identical operands (same doubles, same e6 rounding),
    and ranking ties break deterministically by (feature, threshold).

    Plan: one map-side-combined groupBy bounded by the feature-value
    domain (quantity 1-50, discount 0-10 — NOT the row count), two
    windows over that tiny frame, one TakeOrdered(5). The fact table
    is scanned once; a 100x scale-up changes only the census counts,
    not a single post-census row."""
    return _root_splits(_tree_base(spark, sf_dir), 5)


# Isotonic fit window: PAVA runs per key over the FIRST ISO_N events
# (rank-capped before the grouped-map, so no group ever exceeds ISO_N
# rows in Python regardless of sf). The O(n^3) minimax oracle below is
# only viable BECAUSE of this cap — which mirrors production, where
# isotonic calibration runs on a bounded per-segment sample.
ISO_N = 20


def _pava_pools(ys):
    """Pool-adjacent-violators on exact integer y values: returns the
    final non-decreasing pools as (sum, len) pairs. The violation test
    is cross-multiplied (prev_sum * len > cur_sum * prev_len), so the
    whole merge sequence is exact integer arithmetic — floats appear
    only when a pool average is materialized by the caller."""
    pools = []  # (sum, len)
    for v in ys:
        s, n = int(v), 1
        while pools and pools[-1][0] * n > s * pools[-1][1]:
            ps, pn = pools.pop()
            s += ps
            n += pn
        pools.append((s, n))
    return pools


def _round_half_away_e6(v: float) -> int:
    """ROUND(v * 1e6, 0) with half-away-from-zero ties — the Spark
    round(double) / DuckDB ROUND(double) behavior (Python's round()
    is banker's, which would diverge on exact .5)."""
    x = v * 1_000_000.0
    return int((1 if x >= 0 else -1) * float(abs(x) + 0.5).__floor__())


@register(
    "q_train_isotonic",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS i
        FROM events
    ),
    sel AS (SELECT user_id, i, cents FROM e WHERE i <= {ISO_N}),
    ps AS (
        SELECT user_id, i, cents,
               SUM(cents) OVER (PARTITION BY user_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM sel
    ),
    pairs AS (
        SELECT a.user_id, b.i AS j, a.i AS k,
               CAST(a.s - COALESCE(c.s, 0) AS DOUBLE) / (a.i - b.i + 1)
                   AS avgd
        FROM ps a
        JOIN ps b ON b.user_id = a.user_id AND b.i <= a.i
        LEFT JOIN ps c ON c.user_id = a.user_id AND c.i = b.i - 1
    ),
    mins AS (
        SELECT p.user_id, s.i, p.j, MIN(p.avgd) AS m
        FROM pairs p
        JOIN sel s ON s.user_id = p.user_id
                  AND p.j <= s.i AND p.k >= s.i
        GROUP BY p.user_id, s.i, p.j
    ),
    iso AS (SELECT user_id, i, MAX(m) AS fit FROM mins GROUP BY user_id, i)
    SELECT s.user_id, s.i AS x, s.cents AS y_cents,
           CAST(ROUND(iso.fit * 1000000, 0) AS BIGINT) AS iso_e6
    FROM sel s JOIN iso ON iso.user_id = s.user_id AND iso.i = s.i
    ORDER BY s.user_id, s.i
    """,
    tags=("Q5", "J4", "M2"),
)
def q_train_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC REGRESSION (PAVA) per user over the first {ISO_N}
    event values — the monotone fit behind probability calibration and
    dose-response curves, and a genuinely non-SQL iterative algorithm
    run as a grouped-map pandas UDF. The ORACLE is the closed-form
    minimax characterization iso[i] = max(j<=i) min(k>=i) avg(y[j..k])
    — a theorem, not a reimplementation — spelled as an O(n^3) SQL
    join that is only tractable because the fit window is rank-capped
    at {ISO_N} points per key BEFORE the grouped map (the cap is also
    what bounds the Python-side group at any sf). PAVA's pooling runs
    in exact cross-multiplied integer arithmetic (no float compare
    ever decides a merge); each emitted value materializes one pool
    average as the identical IEEE division both engines perform, and
    the e6 rounding has NO reachable tie: a pool mean with len <= {ISO_N}
    sits at least 1/(2*{ISO_N}) from any half-integer unless exactly on
    it, where all three engines round half-away.

    Plan — the MANY-SMALL-GROUPS spelling: a grouped-map applyInPandas
    pays one Arrow round trip PER GROUP, and with thousands of
    <= {ISO_N}-row users that overhead dominates (measured 6.6 s ->
    ~1 s at sf0.1). Instead the rank-filtered frame is repartitioned
    and SORTED by (user, i) within partitions, and ONE mapInPandas
    call per partition runs pandas groupby inside — batching
    ~n_users/P groups per Arrow batch. Arrow may split a partition
    into multiple batches mid-group, so the classic streaming-group
    carry (hold back the last user of each batch, prepend to the
    next) keeps every PAVA run whole. Same keyed exchange as any
    per-user aggregate; the minimax oracle's cubic join never exists
    on the Spark side."""
    import pandas as pd

    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        cents("value").alias("cents"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("i"),
    )
    sel = (
        e.filter(F.col("i") <= ISO_N)
        .select("user_id", "i", "cents")
        .repartition(spark.sparkContext.defaultParallelism, "user_id")
        .sortWithinPartitions("user_id", "i")
    )

    def _fit_groups(pdf: "pd.DataFrame") -> "pd.DataFrame":
        outs = []
        for _, g in pdf.groupby("user_id", sort=False):
            ys = g["cents"].tolist()
            iso = []
            for s, n in _pava_pools(ys):
                a = s / n  # the one float: same IEEE division as the oracle
                iso.extend([_round_half_away_e6(a)] * n)
            outs.append(
                pd.DataFrame(
                    {
                        "user_id": g["user_id"].values,
                        "x": g["i"].values,
                        "y_cents": g["cents"].values,
                        "iso_e6": iso,
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    def fit_part(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last_uid = pdf["user_id"].iloc[-1]
            carry = pdf[pdf["user_id"] == last_uid]
            head = pdf[pdf["user_id"] != last_uid]
            if len(head):
                yield _fit_groups(head)
        if carry is not None and len(carry):
            yield _fit_groups(carry)

    return sel.mapInPandas(
        fit_part, "user_id long, x long, y_cents long, iso_e6 long"
    )


@register(
    "q_train_grouped_ols",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(year(o_orderdate) - 1998 AS BIGINT) AS x,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS y
        FROM orders
    ),
    {_xy_moments_sql("pts", "grp")}
    SELECT grp,
           CAST(n AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 100, 0)
                AS BIGINT) AS slope_cents_e2,
           CAST(ROUND((CAST(sy AS DOUBLE)
                       - CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE), 0) AS BIGINT) AS intercept_cents,
           CAST(ROUND(CAST((n * sxy - sx * sy) * (n * sxy - sx * sy)
                           AS DOUBLE)
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000, 0)
                AS BIGINT) AS r2_e6
    FROM s ORDER BY grp
    """,
    tags=("Q5", "D10", "D1"),
)
def q_train_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED OLS — five linear models (totalprice-vs-year per order
    priority) trained in ONE aggregate pass: the "many models, one
    job" pattern (per-segment / per-store / per-SKU forecasting fits
    thousands of models as ONE groupBy over sufficient statistics,
    where a train-per-group loop would schedule thousands of jobs).
    The closed form b1 = (n·Sxy − Sx·Sy)/(n·Sxx − Sx²) consumes only
    the six per-group sufficient statistics, all exact DECIMAL(38,0);
    slope, intercept and R² are materialized by the identical-operands
    double-division rule, so the e2/e6 roundings agree bit-for-bit
    cross-engine. Complements q_train_linreg_gd: same model family,
    but the closed form replaces T iterative scans with ONE — the
    right trade whenever X'X is tiny and invertible (GD remains the
    shape for high-dimensional or regularized fits). Also the
    training-side twin of q_infer_many_models, which SERVES per-group
    models this query could have produced.

    Plan: one map-side-combined aggregate bounded by the group domain
    (5 rows); rows never shuffle — partials do. A 1000-executor run at
    100 TB still moves only 5 x 6 numbers per mapper."""
    pts = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.expr("CAST(year(o_orderdate) - 1998 AS BIGINT)").alias("x"),
        cents("o_totalprice").alias("y"),
    )
    s = moment_census(pts, ["x", "y"], ("grp",))
    num = comoment("x", "y").cast("double")
    den = comoment("x", "x").cast("double")
    deny = comoment("y", "y").cast("double")
    slope = num / den
    return s.select(
        "grp",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(slope * 100, 0).cast("bigint").alias("slope_cents_e2"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            0,
        )
        .cast("bigint")
        .alias("intercept_cents"),
        F.round(num * num / (den * deny) * 1000000, 0)
        .cast("bigint")
        .alias("r2_e6"),
    )


@register(
    "q_train_gbt_stumps",
    oracle=f"""
    WITH base AS (
        SELECT CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CAST(ROUND(l_tax * 100, 0) AS BIGINT) AS tax,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS y
        FROM lineitem
    ),
    long1 AS (
        SELECT 'discount' AS f, disc AS v, y FROM base
        UNION ALL SELECT 'tax' AS f, tax AS v, y FROM base
    ),
    c1 AS (
        SELECT f, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(y) AS DECIMAL(38,0)) AS s
        FROM long1 GROUP BY f, v
    ),
    {_gbt_cum_sql(1)},
    sc1 AS (
        SELECT f, v, nl, sl, nt - nl AS nr, st - sl AS sr,
               CAST(ROUND(CAST(sl * sl AS DOUBLE) / CAST(nl AS DOUBLE)
                          + CAST((st - sl) * (st - sl) AS DOUBLE)
                            / CAST(nt - nl AS DOUBLE), 0) AS BIGINT)
                   AS score
        FROM w1 WHERE nl > 0 AND nt - nl > 0
    ),
    p1 AS (SELECT * FROM sc1 ORDER BY score DESC, f, v LIMIT 1),
    z2 AS (
        SELECT b.disc, b.tax,
               CAST(b.y AS DECIMAL(38,0)) * (p.nl * p.nr)
                 - CASE WHEN (CASE WHEN p.f = 'discount' THEN b.disc
                              ELSE b.tax END) <= p.v
                        THEN p.sl * p.nr ELSE p.sr * p.nl END AS z
        FROM base b CROSS JOIN p1 p
    ),
    long2 AS (
        SELECT 'discount' AS f, disc AS v, z FROM z2
        UNION ALL SELECT 'tax' AS f, tax AS v, z FROM z2
    ),
    c2 AS (
        SELECT f, v, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(z) AS DECIMAL(38,0)) AS s
        FROM long2 GROUP BY f, v
    ),
    {_gbt_cum_sql(2)},
    sc2 AS (
        SELECT f, v, nl, sl, nt - nl AS nr, st - sl AS sr,
               CAST(sl * sl AS DOUBLE) / CAST(nl AS DOUBLE)
                 + CAST((st - sl) * (st - sl) AS DOUBLE)
                   / CAST(nt - nl AS DOUBLE) AS score
        FROM w2 WHERE nl > 0 AND nt - nl > 0
    ),
    p2 AS (SELECT * FROM sc2 ORDER BY score DESC, f, v LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS round, f AS feature,
           CAST(v AS BIGINT) AS threshold,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           CAST(ROUND(CAST(sl AS DOUBLE) / CAST(nl AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS pred_left_e6,
           CAST(ROUND(CAST(sr AS DOUBLE) / CAST(nr AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS pred_right_e6
    FROM p1
    UNION ALL
    SELECT CAST(2 AS BIGINT), p2.f, CAST(p2.v AS BIGINT),
           CAST(p2.nl AS BIGINT), CAST(p2.nr AS BIGINT),
           CAST(ROUND(CAST(p2.sl AS DOUBLE) / CAST(p2.nl AS DOUBLE)
                      / CAST(p1.nl * p1.nr AS DOUBLE) * 1000000, 0)
                AS BIGINT),
           CAST(ROUND(CAST(p2.sr AS DOUBLE) / CAST(p2.nr AS DOUBLE)
                      / CAST(p1.nl * p1.nr AS DOUBLE) * 1000000, 0)
                AS BIGINT)
    FROM p2 CROSS JOIN p1
    ORDER BY round
    """,
    tags=("Q5", "D9", "E3"),
)
def q_train_gbt_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADIENT-BOOSTED STUMPS, two rounds — boosting as CHAINED
    CENSUSES: round 1 fits the variance-reduction-optimal stump on
    y = quantity over (discount, tax); round 2 fits a second stump on
    the ROUND-1 RESIDUALS, which are kept EXACT by scaling through
    D = n_left*n_right (residual*D = y*D - S_side*n_other is an
    integer — no float residual ever feeds round 2, the property that
    makes the boosted model bit-reproducible on any partitioning and
    oracle-checkable). Each round is ONE census to the
    (feature, value) domain + cumulative windows (the q_train_decision
    _stump machinery) + a 1-row argmax broadcast; split scores compare
    Sl^2/nl + Sr^2/nr (equivalent to SSE minimization since total SS
    is constant), evaluated on identical operand bits in both engines
    with deterministic (score, feature, value) tie order. The output
    is the MODEL ITSELF (per round: split + side predictions in e6 y
    units — round 2's de-scaled by D at materialization only), so the
    pytest twin can re-apply it and verify SSE strictly improves over
    the single stump and the constant fit.

    Plan: two fact scans (one per round — production checkpoints the
    base projection), each reduced map-side to the tiny value domain;
    the ROUND-1 pick rides into round 2 as a 1-row broadcast (the
    allowlisted q_feat_bucketize scalar-cross shape). Rows never
    shuffle; only domain-sized partials move. T boosting rounds = T
    censuses, exactly how LightGBM's histogram mode spends its
    network."""
    li = t(spark, sf_dir, "lineitem").select(
        cents("l_discount").alias("disc"),
        cents("l_tax").alias("tax"),
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("y"),
    )
    d38 = "decimal(38,0)"

    def census_scores(long, val_col="v"):
        c = long.groupBy("f", val_col).agg(
            F.count("*").cast(d38).alias("n"),
            F.sum("s_in").cast(d38).alias("s"),
        )
        wcum = (
            Window.partitionBy("f")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wtot = Window.partitionBy("f")
        w = c.select(
            "f",
            val_col,
            F.sum("n").over(wcum).alias("nl"),
            F.sum("s").over(wcum).alias("sl"),
            F.sum("n").over(wtot).alias("nt"),
            F.sum("s").over(wtot).alias("st"),
        )
        nr = F.col("nt") - F.col("nl")
        sr = F.col("st") - F.col("sl")
        score = (F.col("sl") * F.col("sl")).cast("double") / F.col("nl").cast(
            "double"
        ) + (sr * sr).cast("double") / nr.cast("double")
        return w.filter((F.col("nl") > 0) & (nr > 0)).select(
            "f",
            val_col,
            "nl",
            "sl",
            nr.alias("nr"),
            sr.alias("sr"),
            score.alias("score_raw"),
        )

    # stack() = one fact scan per census (see q_train_decision_stump)
    long1 = li.selectExpr(
        "stack(2, 'discount', disc, 'tax', tax) AS (f, v)", "y AS s_in"
    )
    sc1 = census_scores(long1).withColumn(
        "score", F.round(F.col("score_raw"), 0).cast("bigint")
    )
    # pinned 1-row round-1 pick: its three consumers (the residual
    # projection, the round-1 model row, round 2's de-scaling) each
    # re-ran the round-1 census fact scan unpinned
    p1 = pin(
        sc1.orderBy(F.col("score").desc(), "f", "v")
        .limit(1),
        "q_train_gbt_stumps.p1",
    )

    z2 = li.crossJoin(F.broadcast(p1.select(
        F.col("f").alias("pf"),
        F.col("v").alias("pv"),
        F.col("nl").alias("pnl"),
        F.col("sl").alias("psl"),
        F.col("nr").alias("pnr"),
        F.col("sr").alias("psr"),
    ))).select(
        "disc",
        "tax",
        (
            F.col("y").cast(d38) * (F.col("pnl") * F.col("pnr"))
            - F.when(
                F.when(F.col("pf") == "discount", F.col("disc")).otherwise(
                    F.col("tax")
                )
                <= F.col("pv"),
                F.col("psl") * F.col("pnr"),
            ).otherwise(F.col("psr") * F.col("pnl"))
        ).alias("z"),
    )
    long2 = z2.selectExpr(
        "stack(2, 'discount', disc, 'tax', tax) AS (f, v)", "z AS s_in"
    )
    p2 = (
        census_scores(long2)
        .orderBy(F.col("score_raw").desc(), "f", "v")
        .limit(1)
    )

    r1 = p1.select(
        F.lit(1).cast("bigint").alias("round"),
        F.col("f").alias("feature"),
        F.col("v").cast("bigint").alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.round(F.col("sl").cast("double") / F.col("nl").cast("double") * 1000000, 0)
        .cast("bigint")
        .alias("pred_left_e6"),
        F.round(F.col("sr").cast("double") / F.col("nr").cast("double") * 1000000, 0)
        .cast("bigint")
        .alias("pred_right_e6"),
    )
    d_scale = (F.col("pnl") * F.col("pnr")).cast("double")
    r2 = p2.crossJoin(
        F.broadcast(
            p1.select(F.col("nl").alias("pnl"), F.col("nr").alias("pnr"))
        )
    ).select(
        F.lit(2).cast("bigint").alias("round"),
        F.col("f").alias("feature"),
        F.col("v").cast("bigint").alias("threshold"),
        F.col("nl").cast("bigint").alias("n_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.round(
            F.col("sl").cast("double") / F.col("nl").cast("double") / d_scale * 1000000,
            0,
        )
        .cast("bigint")
        .alias("pred_left_e6"),
        F.round(
            F.col("sr").cast("double") / F.col("nr").cast("double") / d_scale * 1000000,
            0,
        )
        .cast("bigint")
        .alias("pred_right_e6"),
    )
    return r1.unionAll(r2)


# Ridge penalty for q_train_ridge, on the integer (cents / units /
# discount-pct) design scale. Standard ridge with the intercept
# penalized too — that makes (X'X + lambda*I) a 3x3 INTEGER matrix and
# Cramer's rule an exact-rational solve; the estimator is stated, not
# approximated.
RIDGE_LAMBDA = 10_000


def _price_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The moment census of lineitem's (x1, x2, y) = (quantity,
    discount-pct, extendedprice cents) that ridge and lasso solve."""
    x = t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("bigint").alias("x1"),
        cents("l_discount").alias("x2"),
        cents("l_extendedprice").alias("y"),
    )
    return moment_census(x, ["x1", "x2", "y"])


@register(
    "q_train_ridge",
    oracle=f"""
    WITH c AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x1) AS HUGEINT) AS sx1,
               CAST(SUM(x2) AS HUGEINT) AS sx2,
               CAST(SUM(x1 * x1) AS HUGEINT) AS sx11,
               CAST(SUM(x1 * x2) AS HUGEINT) AS sx12,
               CAST(SUM(x2 * x2) AS HUGEINT) AS sx22,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(x1 * y) AS HUGEINT) AS sx1y,
               CAST(SUM(x2 * y) AS HUGEINT) AS sx2y
        FROM ({_LINE_XY_SQL})
    ),
    m AS (
        SELECT n, sy,
               n + {RIDGE_LAMBDA} AS a11, sx1 AS a12, sx2 AS a13,
               sx11 + {RIDGE_LAMBDA} AS a22, sx12 AS a23,
               sx22 + {RIDGE_LAMBDA} AS a33,
               sy AS b1, sx1y AS b2, sx2y AS b3
        FROM c
    ),
    d AS (
        SELECT n,
               a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)
                 + a13*(a12*a23 - a22*a13) AS det0,
               b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)
                 + a13*(b2*a23 - a22*b3) AS detb0,
               a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)
                 + a13*(a12*b3 - b2*a13) AS detb1,
               a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)
                 + b1*(a12*a23 - a22*a13) AS detb2
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST({RIDGE_LAMBDA} AS BIGINT) AS lam,
           CAST(CASE WHEN detb0 < 0 THEN -1 ELSE 1 END
                * CASE WHEN det0 < 0 THEN -1 ELSE 1 END
                * (ABS(detb0) * 1000000 // ABS(det0)) AS BIGINT)
             AS beta0_e6,
           CAST(CASE WHEN detb1 < 0 THEN -1 ELSE 1 END
                * CASE WHEN det0 < 0 THEN -1 ELSE 1 END
                * (ABS(detb1) * 1000000 // ABS(det0)) AS BIGINT)
             AS beta1_e6,
           CAST(CASE WHEN detb2 < 0 THEN -1 ELSE 1 END
                * CASE WHEN det0 < 0 THEN -1 ELSE 1 END
                * (ABS(detb2) * 1000000 // ABS(det0)) AS BIGINT)
             AS beta2_e6
    FROM d
    """,
    tags=("Q5", "D10", "M14"),
)
def q_train_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE REGRESSION, CLOSED FORM (Hoerl & Kennard 1970): y =
    extendedprice cents on [1, quantity, discount-pct] with the
    L2-penalized normal equations (X'X + lambda*I) beta = X'y solved
    EXACTLY by Cramer's rule — the 3x3 system's determinants are
    integer polynomials in the nine census sums, so every coefficient
    is an exact rational detb_j/det0 reported as a TRUNCATED e6
    integer quotient (trunc_div; the oracle's sign-split `//` on
    absolute values agrees bit-for-bit; no float anywhere).
    Complements q_train_linreg_gd: same model family, the ITERATIVE
    spelling there vs the one-shot algebraic solve here —
    at 100 TB the closed form is ONE census pass + driver-side 3x3
    arithmetic, strictly cheaper than any GD schedule when the
    feature count is small enough to invert.

    Plan: one map-side-combined aggregate to a single row of nine
    sums; everything after is constant-time arithmetic ON that row
    (no second scan, no iteration, no collect — the determinant
    algebra runs inside the same Catalyst plan)."""
    c = _price_census(spark, sf_dir)
    lam = RIDGE_LAMBDA
    m = c.select(
        "n",
        F.expr(f"n + {lam}").alias("a11"),
        F.col("sx1").alias("a12"),
        F.col("sx2").alias("a13"),
        F.expr(f"sx1x1 + {lam}").alias("a22"),
        F.col("sx1x2").alias("a23"),
        F.expr(f"sx2x2 + {lam}").alias("a33"),
        F.col("sy").alias("b1"),
        F.col("sx1y").alias("b2"),
        F.col("sx2y").alias("b3"),
    )
    d = m.select(
        "n",
        F.expr(
            "a11*(a22*a33 - a23*a23) - a12*(a12*a33 - a23*a13)"
            " + a13*(a12*a23 - a22*a13)"
        ).alias("det0"),
        F.expr(
            "b1*(a22*a33 - a23*a23) - a12*(b2*a33 - a23*b3)"
            " + a13*(b2*a23 - a22*b3)"
        ).alias("detb0"),
        F.expr(
            "a11*(b2*a33 - a23*b3) - b1*(a12*a33 - a23*a13)"
            " + a13*(a12*b3 - b2*a13)"
        ).alias("detb1"),
        F.expr(
            "a11*(a22*b3 - b2*a23) - a12*(a12*b3 - b2*a13)"
            " + b1*(a12*a23 - a22*a13)"
        ).alias("detb2"),
    )

    def trunc_e6(num: str):
        return trunc_div(F.col(num) * 1000000, F.col("det0")).cast("bigint")

    return d.select(
        F.col("n").cast("bigint").alias("n"),
        F.lit(lam).cast("bigint").alias("lam"),
        trunc_e6("detb0").alias("beta0_e6"),
        trunc_e6("detb1").alias("beta1_e6"),
        trunc_e6("detb2").alias("beta2_e6"),
    )


# Lasso sweeps for q_train_lasso_cd: 2 full coordinate-descent sweeps
# on the CENTERED (n-multiplied) normal-equation scale, lambda =
# lambda_max/2 (glmnet's standard path point: half the largest
# absolute CENTERED feature-response covariance — on raw sums the
# mean dominates and lambda_max zeroes everything), everything on the
# e6 fixed-point scale of the GD trainer.
LASSO_SWEEPS = 2


def _lasso_cd_sql() -> tuple:
    """Unrolled coordinate-descent CTE chain (the q_train_linreg_gd
    oracle discipline: the UPDATE RULE is the estimator, spelled once
    and run by both engines over their exact integer types).

    Centering is done by multiplying the normal equations through by
    n, which keeps every constant an exact integer: c_jy = n*Sxjy -
    Sxj*Sy, c_12 = n*Sx12 - Sx1*Sx2, c_jj = n*Sxjj - Sxj^2. State is
    (b1_e6, b2_e6); per sweep, in order b1 -> b2:
      rho_j_e6 = 10^6*c_jy - b_other_e6*c_12            (exact)
      b_j_e6   = sign(rho) * ((|rho| - lam_e6) // c_jj) if |rho| > lam
                 else 0                               (soft threshold)
    The intercept is recovered once at the end on the raw scale.
    The Spark side divides with trunc_div; the sign-split DuckDB `//`
    here floors only non-negative operands, where floor and truncation
    agree."""
    ctes = ["s0 AS (SELECT *, CAST(0 AS DECIMAL(38,0)) AS b1, CAST(0 AS DECIMAL(38,0)) AS b2 FROM cc)"]
    k = 0
    for _ in range(LASSO_SWEEPS):
        for j, oth in ((1, 2), (2, 1)):
            k += 1
            rho = f"(1000000 * c{j}y - b{oth} * c12)"
            ctes.append(
                f"s{k} AS (SELECT n, sx1, sx2, sy, c1y, c2y, c12, c11,"
                f" c22, lam, b{oth},"
                f" CASE WHEN ABS({rho}) <= lam"
                f" THEN CAST(0 AS DECIMAL(38,0))"
                f" ELSE (CASE WHEN {rho} < 0 THEN -1 ELSE 1 END)"
                f" * CAST((CAST(ABS({rho}) - lam AS HUGEINT)"
                f" // CAST(c{j}{j} AS HUGEINT)) AS DECIMAL(38,0))"
                f" END AS b{j}"
                f" FROM s{k - 1})"
            )
    return ",\n    ".join(ctes), k


def _lasso_oracle() -> str:
    chain, k = _lasso_cd_sql()
    return f"""
    WITH c AS (
        SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(x1) AS DECIMAL(38,0)) AS sx1,
               CAST(SUM(x2) AS DECIMAL(38,0)) AS sx2,
               CAST(SUM(x1 * x1) AS DECIMAL(38,0)) AS sx11,
               CAST(SUM(x1 * x2) AS DECIMAL(38,0)) AS sx12,
               CAST(SUM(x2 * x2) AS DECIMAL(38,0)) AS sx22,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(x1 * y) AS DECIMAL(38,0)) AS sx1y,
               CAST(SUM(x2 * y) AS DECIMAL(38,0)) AS sx2y
        FROM ({_LINE_XY_SQL})
    ),
    cc AS (
        SELECT n, sx1, sx2, sy,
               n * sx1y - sx1 * sy AS c1y,
               n * sx2y - sx2 * sy AS c2y,
               n * sx12 - sx1 * sx2 AS c12,
               n * sx11 - sx1 * sx1 AS c11,
               n * sx22 - sx2 * sx2 AS c22,
               GREATEST(ABS(n * sx1y - sx1 * sy),
                        ABS(n * sx2y - sx2 * sy)) * 500000 AS lam
        FROM c
    ),
    {chain},
    fin AS (
        SELECT n, lam, b1, b2,
               (CASE WHEN (1000000 * sy - b1 * sx1 - b2 * sx2) < 0
                     THEN -1 ELSE 1 END)
               * CAST(CAST(ABS(1000000 * sy - b1 * sx1 - b2 * sx2)
                           AS HUGEINT) // CAST(n AS HUGEINT)
                      AS DECIMAL(38,0)) AS b0
        FROM s{k}
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(CAST(lam AS HUGEINT) // 1000000 AS BIGINT)
             AS lam_natural,
           CAST(b0 AS BIGINT) AS b0_e6,
           CAST(b1 AS BIGINT) AS b1_e6,
           CAST(b2 AS BIGINT) AS b2_e6,
           CAST((CASE WHEN b1 = 0 THEN 0 ELSE 1 END)
                + (CASE WHEN b2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS nnz
    FROM fin
    """


@register("q_train_lasso_cd", oracle=_lasso_oracle, tags=("Q5", "P7", "M14"))
def q_train_lasso_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LASSO via COORDINATE DESCENT (Friedman/Hastie/Tibshirani 2010,
    the glmnet algorithm) in exact e6 fixed point — the SPARSITY-
    inducing member of the trainer family next to GD (Q5) and the
    closed-form ridge: soft-thresholding S(rho, lambda) can zero a
    coordinate outright (INTEGER zero, not epsilon), which no L2
    trainer can do. lambda = lambda_max/2 (glmnet's standard path
    point on the CENTERED covariance scale, where lambda_max is the
    smallest value zeroing everything); at this fixture both features
    carry enough independent signal to survive that point — the
    zeroing path itself is pinned in the pytest twin, which re-runs
    the identical update rule at a lambda past the weaker feature's
    threshold and asserts the exact-integer 0. Centering multiplies the normal
    equations through by n so every constant stays an exact integer
    (c_jy = n*Sxjy - Sxj*Sy); each soft-threshold update is integer
    algebra with a sign-split floor quotient, so the 2-sweep
    trajectory is bit-reproducible on any partitioning and the whole
    trainer unrolls into one chained-CTE oracle — the
    q_train_linreg_gd discipline applied to a second optimizer family.

    Plan: ONE map-side-combined census pass; the four coordinate
    updates plus the intercept recovery are constant-time arithmetic
    on that single row inside the same Catalyst plan (no iteration, no
    collect, no second scan)."""
    c = _price_census(spark, sf_dir)
    cc = c.select(
        "n",
        "sx1",
        "sx2",
        "sy",
        comoment("x1", "y").cast(D38).alias("c1y"),
        comoment("x2", "y").cast(D38).alias("c2y"),
        comoment("x1", "x2").cast(D38).alias("c12"),
        comoment("x1", "x1").cast(D38).alias("c11"),
        comoment("x2", "x2").cast(D38).alias("c22"),
        (F.greatest(F.abs(comoment("x1", "y")), F.abs(comoment("x2", "y"))) * 500000)
        .cast(D38)
        .alias("lam"),
    )
    s = cc.withColumn("b1", F.lit(0).cast(D38)).withColumn("b2", F.lit(0).cast(D38))
    lam = F.col("lam")
    for _ in range(LASSO_SWEEPS):
        for j, oth in ((1, 2), (2, 1)):
            rho = F.lit(1000000) * F.col(f"c{j}y") - F.col(f"b{oth}") * F.col("c12")
            # soft threshold: rho shrunk toward zero by lam, over c_jj > 0
            shrunk = F.when(rho < 0, rho + lam).otherwise(rho - lam)
            s = s.withColumn(
                f"b{j}",
                F.when(F.abs(rho) <= lam, F.lit(0).cast(D38))
                .otherwise(trunc_div(shrunk, F.col(f"c{j}{j}")))
                .cast(D38),
            )
    b0e = F.lit(1000000) * F.col("sy") - F.col("b1") * F.col("sx1") - F.col("b2") * F.col("sx2")
    s = s.withColumn("b0", trunc_div(b0e, F.col("n")))
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        trunc_div(lam, F.lit(1000000)).cast("bigint").alias("lam_natural"),
        F.col("b0").cast("bigint").alias("b0_e6"),
        F.col("b1").cast("bigint").alias("b1_e6"),
        F.col("b2").cast("bigint").alias("b2_e6"),
        (
            F.when(F.col("b1") == 0, 0).otherwise(1)
            + F.when(F.col("b2") == 0, 0).otherwise(1)
        )
        .cast("bigint")
        .alias("nnz"),
    )


# ---------------------------------------------------------------------------
# Q8 extension (r10 verdict item 9's named pick): DEPTH-2 DECISION TREE
# as two chained stump censuses — the natural next trainer above
# q_train_decision_stump and the inner structure of every histogram
# GBM's per-tree loop (grow level by level; each level = ONE census of
# the fact table grouped by (node, feature, value)).


def _stump_split_scores(long: DataFrame, part_cols: tuple[str, ...]) -> DataFrame:
    """Candidate-split scores from one (node..., feature, value) census.

    ``long`` carries (part_cols..., feature, val, y). Returns every
    threshold's exact BIGINT contingency (n_left, n_right) plus the
    weighted-Gini score gini_e6 — the q_train_decision_stump ladder,
    generalized with partition columns so level-2 nodes score in the
    SAME two windows instead of one scan per node."""
    per_v = long.groupBy(*part_cols, "feature", "val").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count("*") - F.sum("y")).cast("bigint").alias("neg"),
    )
    wcum = (
        Window.partitionBy(*part_cols, "feature")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy(*part_cols, "feature")
    cum = per_v.select(
        *part_cols,
        "feature",
        "val",
        F.sum("pos").over(wcum).cast("bigint").alias("lp"),
        F.sum("neg").over(wcum).cast("bigint").alias("lneg"),
        F.sum("pos").over(wtot).cast("bigint").alias("tp"),
        F.sum("neg").over(wtot).cast("bigint").alias("tn"),
    )
    n_left = F.col("lp") + F.col("lneg")
    rp = F.col("tp") - F.col("lp")
    rneg = F.col("tn") - F.col("lneg")
    n_right = rp + rneg
    gini = F.round(
        (
            F.lit(2.0)
            * (
                (F.col("lp") * F.col("lneg")).cast("double")
                / n_left.cast("double")
                + (rp * rneg).cast("double") / n_right.cast("double")
            )
            / (F.col("tp") + F.col("tn")).cast("double")
        )
        * 1000000,
        0,
    ).cast("bigint")
    return cum.filter((n_left > 0) & (n_right > 0)).select(
        *part_cols,
        "feature",
        F.col("val").alias("threshold"),
        n_left.alias("n_left"),
        n_right.alias("n_right"),
        gini.alias("gini_e6"),
    )


def _tree_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qty, disc, y): lineitem's two integer features and the binary
    label returnflag = 'R' — the instance layout every tree trainer
    here grows from."""
    return t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("qty"),
        cents("l_discount").alias("disc"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )


def _two_features(df: DataFrame, part_cols: tuple[str, ...]) -> DataFrame:
    """(part_cols..., feature, val, y) with one row per feature. stack(),
    not a union of two selects (round 12): the union scans the fact
    table once per feature, stack() emits both rows in one pass."""
    return df.select(
        *part_cols,
        F.expr("stack(2, 'quantity', qty, 'discount', disc) AS (feature, val)"),
        "y",
    )


_SPLIT = ("feature", "threshold", "n_left", "n_right", "gini_e6")


def _root_splits(base: DataFrame, n: int) -> DataFrame:
    """The n best root splits of a (qty, disc, y) layout, ties broken
    by (feature, threshold)."""
    splits = _stump_split_scores(_two_features(base, ()), ())
    return splits.orderBy("gini_e6", "feature", "threshold").limit(n)


def _side(feature: str, threshold: str) -> Column:
    """'L' when the row goes left of the split named by the `feature`
    and `threshold` columns (value <= threshold), else 'R'."""
    left = ((F.col(feature) == "quantity") & (F.col("qty") <= F.col(threshold))) | (
        (F.col(feature) == "discount") & (F.col("disc") <= F.col(threshold))
    )
    return F.when(left, F.lit("L")).otherwise(F.lit("R"))


def _route_root(base: DataFrame, root: DataFrame) -> DataFrame:
    """(qty, disc, y, node): `base` labeled L/R by the 1-row root split,
    broadcast onto every row (the scalar-cross pattern)."""
    rootb = F.broadcast(
        root.select(F.col("feature").alias("r_feature"), F.col("threshold").alias("r_threshold"))
    )
    return (
        base.crossJoin(rootb)
        .withColumn("node", _side("r_feature", "r_threshold"))
        .select("qty", "disc", "y", "node")
    )


def _route(layout: DataFrame, best: DataFrame) -> DataFrame:
    """(qty, disc, y, node): each row's path label extended by one
    character through its node's best split (a broadcast hash join on
    node; a node without a split drops its rows)."""
    bestb = F.broadcast(
        best.select(
            "node", F.col("feature").alias("s_feature"), F.col("threshold").alias("s_threshold")
        )
    )
    return (
        layout.join(bestb, "node")
        .withColumn("node", F.concat(F.col("node"), _side("s_feature", "s_threshold")))
        .select("qty", "disc", "y", "node")
    )


def _best_splits(layout: DataFrame) -> DataFrame:
    """(node, feature, threshold, n_left, n_right, gini_e6): each node's
    best split over a (qty, disc, y, node) layout — one census for the
    whole level, ties broken by (feature, threshold)."""
    splits = _stump_split_scores(_two_features(layout, ("node",)), ("node",))
    w = Window.partitionBy("node").orderBy("gini_e6", "feature", "threshold")
    return (
        splits.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("node", *_SPLIT)
    )


def _tree_rows(root: DataFrame, *levels: DataFrame) -> DataFrame:
    """The tree's output: the root split as node 'root', then each
    level's best splits, one row per path label."""
    out = root.select(F.lit("root").alias("node"), *_SPLIT)
    for level in levels:
        out = out.unionAll(level)
    return out


_TREE2_BASE_SQL = """
        SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
               CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS disc,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
"""

_TREE2_GINI_SQL = """CAST(ROUND((2.0 * (
                       CAST(lp * lneg AS DOUBLE)
                           / CAST(lp + lneg AS DOUBLE)
                     + CAST((tp - lp) * (tn - lneg) AS DOUBLE)
                           / CAST((tp - lp) + (tn - lneg) AS DOUBLE)
                   ) / CAST(tp + tn AS DOUBLE)) * 1000000, 0) AS BIGINT)"""


def _level_sql(k: int) -> str:
    """The ``long{k}``/``per{k}``/``cum{k}``/``splits{k}`` CTEs: every
    candidate split of tree level `k` over ``base{k}``, the oracle twin
    of ``_stump_split_scores``. Level 0 is the root (over ``base``, no
    node column); deeper levels score per path label ``node``."""
    src, node = ("base", "") if k == 0 else (f"base{k}", "node, ")
    return f"""long{k} AS (
        SELECT {node}'quantity' AS feature, qty AS val, y FROM {src}
        UNION ALL
        SELECT {node}'discount' AS feature, disc AS val, y FROM {src}
    ),
    per{k} AS (
        SELECT {node}feature, val,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
        FROM long{k} GROUP BY {node}feature, val
    ),
    cum{k} AS (
        SELECT {node}feature, val,
               CAST(SUM(pos) OVER (PARTITION BY {node}feature ORDER BY val
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS lp,
               CAST(SUM(neg) OVER (PARTITION BY {node}feature ORDER BY val
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS lneg,
               CAST(SUM(pos) OVER (PARTITION BY {node}feature) AS BIGINT) AS tp,
               CAST(SUM(neg) OVER (PARTITION BY {node}feature) AS BIGINT) AS tn
        FROM per{k}
    ),
    splits{k} AS (
        SELECT {node}feature, val AS threshold,
               lp + lneg AS n_left,
               (tp - lp) + (tn - lneg) AS n_right,
               {_TREE2_GINI_SQL} AS gini_e6
        FROM cum{k}
        WHERE lp + lneg > 0 AND (tp - lp) + (tn - lneg) > 0
    )"""


def _route_sql(k: int) -> str:
    """The ``base{k}`` CTE: every row labelled with its path to level
    `k`, the oracle twin of ``_route_root`` (k = 2, through the root)
    and ``_route`` (deeper, through level k - 1's best splits)."""
    if k == 2:
        return """base2 AS (
        SELECT b.qty, b.disc, b.y,
               CASE WHEN (r.feature = 'quantity' AND b.qty <= r.threshold)
                      OR (r.feature = 'discount' AND b.disc <= r.threshold)
                    THEN 'L' ELSE 'R' END AS node
        FROM base b CROSS JOIN root r
    )"""
    return f"""base{k} AS (
        SELECT b.qty, b.disc, b.y,
               b.node || CASE WHEN (s.feature = 'quantity'
                                    AND b.qty <= s.threshold)
                              OR (s.feature = 'discount'
                                  AND b.disc <= s.threshold)
                              THEN 'L' ELSE 'R' END AS node
        FROM base{k - 1} b JOIN best{k - 1} s ON s.node = b.node
    )"""


def _tree_oracle(depth: int) -> str:
    """The tree of `depth` levels as one DuckDB query: the root split,
    then per level the routing, the split census and each node's best
    split (the oracle twin of ``_best_splits``), one row per node."""
    levels = "".join(
        f""",
    {_route_sql(k)},
    {_level_sql(k)},
    best{k} AS (
        SELECT node, feature, threshold, n_left, n_right, gini_e6
        FROM splits{k}
        QUALIFY ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY gini_e6, feature, threshold) = 1
    )"""
        for k in range(2, depth + 1)
    )
    rows = "".join(
        f"""
    UNION ALL
    SELECT node, feature, threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right, gini_e6
    FROM best{k}"""
        for k in range(2, depth + 1)
    )
    return f"""
    WITH base AS ({_TREE2_BASE_SQL}),
    {_level_sql(0)},
    root AS (
        SELECT * FROM splits0 ORDER BY gini_e6, feature, threshold LIMIT 1
    ){levels}
    SELECT 'root' AS node, feature, threshold,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(n_right AS BIGINT) AS n_right, gini_e6
    FROM root{rows}
    ORDER BY node
    """


@register(
    "q_train_tree_depth2",
    oracle=_tree_oracle(2),
    tags=("Q8", "Q11", "D9", "E3"),
)
def q_train_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPTH-2 DECISION TREE by level-wise census growth — the CART
    step above q_train_decision_stump and the exact structure of a
    histogram GBM's tree loop (LightGBM/XGBoost hist mode [PK]): the
    root split comes from one (feature, value) census; both children
    are then scored TOGETHER by one more census keyed (node, feature,
    value). Depth d costs d fact-table scans — never one scan per
    node, which is the difference between O(d) and O(2^d) passes at
    100 TB.

    Determinism: contingencies are exact BIGINTs; the weighted-Gini
    double is evaluated in the identical operation order on identical
    operands in both engines, e6-rounded, ties broken by (feature,
    threshold) — the q_train_decision_stump contract, applied twice.
    The 1-row root broadcast-cross onto the fact table is the scalar
    cross pattern (allowlisted, tests/test_plans.py): every row needs
    the SAME three root parameters, which is a broadcast variable, not
    a join.

    Output: 3 rows — the root split and each child's best split, with
    exact child sizes and scores (a pure child with no valid split
    would simply emit no row, deterministically in both engines)."""
    li = _tree_base(spark, sf_dir)
    root = _root_splits(li, 1)
    return _tree_rows(root, _best_splits(_route_root(li, root)))


@register(
    "q_train_tree_depth3",
    oracle=_tree_oracle(3),
    tags=("Q8", "Q11", "D9", "E3"),
)
def q_train_tree_depth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEPTH-3 DECISION TREE — the d=3 instance that PROVES
    q_train_tree_depth2's central scale claim by induction step: depth
    d costs exactly d fact-table scans, never 2^d per-node passes.
    Level 3 scores all FOUR grandchildren (LL/LR/RL/RR) in ONE census
    keyed (node, feature, value) — the same two windows as level 2,
    just a wider partition key; the level-2 best-split frame (<=2
    rows) joins back onto the labeled fact rows as a broadcast hash
    join on `node`, extending each row's path label by one character.

    Determinism: the q_train_tree_depth2 contract applied three
    times — exact BIGINT contingencies, identical-operand weighted-
    Gini e6, ties broken by (feature, threshold); a pure node with no
    valid split emits no row AND drops its rows from deeper levels
    through the inner node-join, identically in both engines.

    The routed instance layout (base2) and the tiny split picks are
    pinned between levels — the production histogram-GBM
    contract: each level reads the PREVIOUS layout, never re-derives
    it, so the raw fact table is scanned exactly twice (root census +
    layout build) however deep the tree grows. At fixture scale this
    is cost-NEUTRAL (pin I/O ~ recompute savings, measured
    3.1-3.9 s warm either way at sf0.1); at 100 TB the unpinned
    spelling re-derives the full routing chain once per output
    subtree and is catastrophic.

    Output: up to 7 rows — root, both children, all four
    grandchildren, each with its winning split, exact child sizes and
    score, keyed by its path label."""
    li = _tree_base(spark, sf_dir)
    # the root pick (1 row) feeds the routing AND the output union —
    # pin it so the root census runs once
    root = pin(_root_splits(li, 1), "q_train_tree_depth3.root")
    # materialize the routed INSTANCE LAYOUT between levels — the
    # production GBM contract behind the "depth d = d scans" claim:
    # each level reads the previous layout, never re-derives it, so
    # the raw fact table is scanned exactly twice (root census +
    # layout build) regardless of depth
    base2 = pin(_route_root(li, root), "q_train_tree_depth3.base2")
    # <=2 rows, feeds level-3 routing AND the output union
    best2 = pin(_best_splits(base2), "q_train_tree_depth3.best2")
    return _tree_rows(root, best2, _best_splits(_route(base2, best2)))


_PERC_EPOCHS = 3


def _perceptron_oracle() -> str:
    """Census + unrolled batch-perceptron epochs as MATERIALIZED CTEs
    (the q_graph_kcore double-pin rule: every epoch CTE is referenced
    by the next epoch AND the final audit — un-materialized, DuckDB
    re-expands the chain per reference)."""
    parts = [
        """WITH cells AS MATERIALIZED (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS x1,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) // 1000000
                 AS x2,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE -1 END AS y,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM orders GROUP BY 1, 2, 3
    ),
    w0 AS MATERIALIZED (
        SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS w1,
               CAST(0 AS BIGINT) AS w2
    )"""
    ]
    prev = "w0"
    for e in range(1, _PERC_EPOCHS + 1):
        parts.append(
            f""",
    w{e} AS MATERIALIZED (
        SELECT {prev}.wb + COALESCE(SUM(CASE WHEN
                   c.y * ({prev}.wb + {prev}.w1 * c.x1
                          + {prev}.w2 * c.x2) <= 0
                   THEN c.cnt * c.y ELSE 0 END), 0) AS wb,
               {prev}.w1 + COALESCE(SUM(CASE WHEN
                   c.y * ({prev}.wb + {prev}.w1 * c.x1
                          + {prev}.w2 * c.x2) <= 0
                   THEN c.cnt * c.y * c.x1 ELSE 0 END), 0) AS w1,
               {prev}.w2 + COALESCE(SUM(CASE WHEN
                   c.y * ({prev}.wb + {prev}.w1 * c.x1
                          + {prev}.w2 * c.x2) <= 0
                   THEN c.cnt * c.y * c.x2 ELSE 0 END), 0) AS w2
        FROM cells c CROSS JOIN {prev}
        GROUP BY {prev}.wb, {prev}.w1, {prev}.w2
    )"""
        )
        prev = f"w{e}"
    parts.append(
        f"""
    SELECT CAST(w.wb AS BIGINT) AS wb, CAST(w.w1 AS BIGINT) AS w1,
           CAST(w.w2 AS BIGINT) AS w2,
           CAST(SUM(c.cnt) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN c.y * (w.wb + w.w1 * c.x1 + w.w2 * c.x2)
                         <= 0 THEN c.cnt ELSE 0 END) AS BIGINT)
             AS n_misclassified,
           CAST((SUM(c.cnt) - SUM(CASE WHEN
                    c.y * (w.wb + w.w1 * c.x1 + w.w2 * c.x2) <= 0
                    THEN c.cnt ELSE 0 END)) * 1000000 // SUM(c.cnt)
                AS BIGINT) AS accuracy_e6
    FROM cells c CROSS JOIN {prev} w
    GROUP BY w.wb, w.w1, w.w2"""
    )
    return "".join(parts)


@register(
    "q_train_perceptron", oracle=_perceptron_oracle(), tags=("Q5", "ml")
)
def q_train_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH PERCEPTRON (Rosenblatt 1958, full-batch variant) — the
    original linear classifier, trained EXACTLY: integer features
    (x1 = priority digit 1..5, x2 = price in $10k floor units), label
    y = +/-1 on final order status, eta = 1, w = 0 start, and the
    FULL-BATCH update w += sum over misclassified of cnt*y*x per
    epoch. The per-sample perceptron is inherently SEQUENTIAL
    (order-dependent mistakes); the batch variant is the
    data-parallel spelling — every epoch is one aggregate over the
    (x1, x2, y) CENSUS, which is domain-bounded (<= ~70 cells), so
    3 epochs = 3 tiny aggregates over a frame that never grows with
    the data. The Q-family's missing ur-trainer beside GD/NB/stumps.

    Exactness: everything is BIGINT — integer features, integer
    counts, eta = 1 keeps weights integer forever; the margin test
    y*(w.x) <= 0 is an integer comparison (epoch 1 from w = 0
    classifies EVERYTHING as misclassified by the <= convention,
    stated — the standard batch-perceptron cold start, giving
    w_1 = the class-weighted feature sums). Weight audit: |w| grows
    <= n*5 per epoch ~ 2.3e7 at sf1 after 3 epochs; margins
    <= ~2e8 — trivially BIGINT at any sf.

    Plan at 100 TB: ONE map-side-combined census scan, then 3
    chained (70-row x 1-row) broadcast scalar crosses + a final
    audit cross — the whole training loop shuffles nothing larger
    than the census; the fact table is scanned exactly once. Both
    engines pin the chain against re-expansion (a pin per epoch /
    AS MATERIALIZED per CTE — the q_graph_kcore rule)."""
    # consumed by every epoch + the final audit: pin once
    cells = pin(
        t(spark, sf_dir, "orders")
        .groupBy(
            F.expr("CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)").alias(
                "x1"
            ),
            trunc_div(cents("o_totalprice"), F.lit(1000000))
            .cast("bigint")
            .alias("x2"),
            F.when(F.col("o_orderstatus") == "F", 1)
            .otherwise(-1)
            .alias("y"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt")),
        "q_train_perceptron.cells",
    )
    w = local_df(spark, [(0, 0, 0)], "wb BIGINT, w1 BIGINT, w2 BIGINT")
    margin = "y * (wb + w1 * x1 + w2 * x2)"
    for _ in range(_PERC_EPOCHS):
        # each epoch's 1-row weights feed the next epoch AND (for
        # the last) the final audit: pin (q_graph_kcore rule)
        w = pin(
            cells.crossJoin(F.broadcast(w))
            .groupBy("wb", "w1", "w2")
            .agg(
                F.sum(
                    F.expr(
                        f"CASE WHEN {margin} <= 0 THEN cnt * y ELSE 0 END"
                    )
                ).alias("db"),
                F.sum(
                    F.expr(
                        f"CASE WHEN {margin} <= 0 THEN cnt * y * x1"
                        " ELSE 0 END"
                    )
                ).alias("d1"),
                F.sum(
                    F.expr(
                        f"CASE WHEN {margin} <= 0 THEN cnt * y * x2"
                        " ELSE 0 END"
                    )
                ).alias("d2"),
            )
            .select(
                (F.col("wb") + F.coalesce(F.col("db"), F.lit(0)))
                .cast("bigint")
                .alias("wb"),
                (F.col("w1") + F.coalesce(F.col("d1"), F.lit(0)))
                .cast("bigint")
                .alias("w1"),
                (F.col("w2") + F.coalesce(F.col("d2"), F.lit(0)))
                .cast("bigint")
                .alias("w2"),
            ),
            "q_train_perceptron.w",
        )
    return (
        cells.crossJoin(F.broadcast(w))
        .groupBy("wb", "w1", "w2")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_train"),
            F.sum(
                F.expr(f"CASE WHEN {margin} <= 0 THEN cnt ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_misclassified"),
        )
        .select(
            "wb",
            "w1",
            "w2",
            "n_train",
            "n_misclassified",
            trunc_div((F.col("n_train") - F.col("n_misclassified")) * 1000000, F.col("n_train"))
            .cast("bigint")
            .alias("accuracy_e6"),
        )
    )
