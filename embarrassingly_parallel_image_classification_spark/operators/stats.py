"""Statistical-inference pack (SURVEY.md §2-M2 growth, round 9): the
distribution-level tests a data-quality / experimentation platform runs
beyond the per-group moments of q_agg_stats and the pooled-variance
t-test of q_ab_test [PK] — two-sample Kolmogorov–Smirnov, the Gini
concentration coefficient, a Kaplan–Meier survivor curve, the
Theil–Sen robust slope and the k-group, rank, survival and
contingency families that followed.

Exactness rule (every query here is judged by exact DuckDB parity):

* Operands are exact integers — cents, counts, ranks carried doubled —
  summed in DECIMAL(38,0) (the oracle's HUGEINT).
* A reported rational is one double division of exact integer
  operands below 2^53: casting such an integer to DOUBLE is exact and
  division is correctly rounded, so both engines hold the SAME double
  and a final ROUND(x * 1e6) agrees bit for bit, with no boundary
  case.
* A rational whose numerator is too large for that (s^2/n at ~10^24)
  goes through ``fix_e6``, the e6 DIV/MOD fixing: an exact integer
  quotient plus a rounded remainder whose operands are again below
  2^53. Sums of fixings are exact integers. A quotient truncated toward
  zero goes through ``trunc_div``.
* Least-squares and correlation statistics read one
  ``moment_census`` (n, the sums and the product sums, each operand
  widened before it multiplies) through ``comoment`` and
  ``pearson_r``.
* Decisions (significance booleans) never touch floats: they are
  cross-multiplied DECIMAL(38,0) integer comparisons (q_ab_test's
  multiply-through pattern), or exact floor quotients against an
  integer critical value.

The only e6 log fixing (LN of a small-step rational, the q_select_dsir
/ q_text_perplexity precedent) is in the Kaplan–Meier step table,
which is bounded by the distinct-duration domain, never by row count.

Families that share a census or a chain read it from one function:
``_type_cents`` / ``_type_moments`` (events by type in cents),
``_oneway_ss`` (ANOVA sums of squares), ``_chi2_terms`` (contingency
cells), ``_fo_census`` (the F-vs-O order samples),
``_ab_scores`` (Ansari-Bradley tie-block scores), ``_durations`` /
``_risk_table`` (survival), ``daily_census`` / ``_type_day_sums`` (per
type and calendar day; the time-series lines read the census too),
``_lower_median`` and ``_orders_strata``.

The oracles share CTE text only through oracle-only fragments, never
through these builders; each fragment is the DuckDB twin of the
builder it checks: ``_events_x`` (events in cents by type as (g,
cents) or (g, v)), ``_GRP_SQL`` (the per-group (n, s, q) HUGEINT
census), ``_gterm_sql`` / ``_oneway_ss_sql`` (``_oneway_ss``),
``_chi2_terms_sql`` (``_chi2_terms``), ``_FO_X_SQL`` / ``_FO_PV_SQL``
(``_fo_census``), ``_AB_POS_SQL`` / ``_ab_agg_sql`` (``_ab_scores`` /
``_ab_agg``), ``_EVENT_SEC_SQL`` / ``_RISK_SQL`` (``_durations`` /
``_risk_table``), ``_KRUSKAL_GROUPS_SQL`` (``_kruskal_groups``),
``_FRIEDMAN_CELLS_SQL`` / ``_FRIEDMAN_RANKS_SQL`` / ``_FRIEDMAN_Q_SQL``
(``_friedman_blocks`` / ``_friedman_ranks`` / ``_friedman_q``),
``_ORDERS_STRATA_SQL`` (``_orders_strata``), ``_daily_sql``
(``_type_day_sums``), and ``_XY_SUMS_SQL`` / ``_xy_moments_sql``
(``moment_census``; the time-series, training and corpus oracles read
them too).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.window import WindowSpec
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df, pin
from ..registry import register
from ..sources.tables import cents, t

D38 = "decimal(38,0)"

# KS rejection at alpha = 0.05: D > c(alpha) * sqrt((n+m)/(n*m)) with
# c(0.05) = 1.358; squared and multiplied through, the decision is
# D_num^2 * 10^6 > 1358^2 * (n+m) * n * m over exact integers
# (D_num = max |CA*m - CB*n| is the cross-multiplied sup-distance).
KS_C2_E6 = 1358 * 1358  # 1,844,164 = round(1.358^2 * 1e6)


def _events_x(col: str) -> str:
    """The ``x`` CTE: events as (g = event type, `col` = exact cents)."""
    return f"""x AS (
        SELECT event_type AS g,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS {col}
        FROM events
    )"""


# The per-group (n, s, q) = (count, Σ cents, Σ cents²) HUGEINT census.
_GRP_SQL = """grp AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(cents) AS HUGEINT) AS s,
               CAST(SUM(cents * cents) AS HUGEINT) AS q
        FROM x GROUP BY g
    )"""


def _daily_sql(col: str) -> str:
    """The ``daily`` CTE: per (event type g, calendar day d) the cent
    sum as `col` (the oracle twin of ``_type_day_sums``)."""
    return f"""daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS {col}
        FROM events GROUP BY 1, 2
    )"""


# The (n, sx, sy, sxy, sxx) DECIMAL(38,0) sums of (x, y) pairs.
_XY_SUMS_SQL = """CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx"""


def _xy_moments_sql(src: str, by: str) -> str:
    """The ``s`` CTE: per `by` group of `src` the (n, sx, sy, sxy, sxx,
    syy) DECIMAL(38,0) moments of (x, y), the oracle twin of
    ``moment_census``."""
    return f"""s AS (
        SELECT {by},
               {_XY_SUMS_SQL},
               CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy
        FROM {src} GROUP BY {by}
    )"""


def _gterm_sql(keep: str) -> str:
    """The ``gterm`` CTE: `keep` and the e6 fixing of s^2/n per group
    of ``grp`` (n, s, q)."""
    return f"""gterm AS (
        SELECT {keep},
               1000000 * ((s * s) // n)
                 + CAST(ROUND(1000000.0
                       * CAST((s * s) % n AS DOUBLE)
                       / CAST(n AS DOUBLE), 0) AS HUGEINT) AS term_e6
        FROM grp
    )"""


def _oneway_ss_sql(keep: str) -> str:
    """The ``gterm``/``tot``/``fin`` CTEs over ``grp`` (n, s, q): the
    oracle twin of ``_oneway_ss``, ending in (nn, k, ssb_e6, ssw_e6)."""
    return f"""{_gterm_sql(keep)},
    tot AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS nn,
               CAST(SUM(s) AS HUGEINT) AS ss,
               CAST(SUM(q) AS HUGEINT) AS qq,
               CAST(SUM(term_e6) AS HUGEINT) AS a_e6,
               CAST(COUNT(*) AS HUGEINT) AS k
        FROM gterm
    ),
    fin AS (
        SELECT nn, k,
               a_e6 - (1000000 * ((ss * ss) // nn)
                       + CAST(ROUND(1000000.0
                             * CAST((ss * ss) % nn AS DOUBLE)
                             / CAST(nn AS DOUBLE), 0) AS HUGEINT))
                 AS ssb_e6,
               1000000 * qq - a_e6 AS ssw_e6
        FROM tot
    )"""


def _chi2_terms_sql(row: str, col: str, keep: str) -> str:
    """The ``tot``/``terms`` CTEs over ``cells`` (`row`, `col`, o): the
    oracle twin of ``_chi2_terms``, one term_e6 per cell after `keep`."""
    return f"""tot AS (
        SELECT {row}, {col}, o,
               SUM(o) OVER (PARTITION BY {row}) AS row_t,
               SUM(o) OVER (PARTITION BY {col}) AS col_t,
               SUM(o) OVER () AS n
        FROM cells
    ),
    terms AS (
        SELECT {keep},
               CAST(ROUND(CAST((o * n - row_t * col_t)
                               * (o * n - row_t * col_t) AS DOUBLE)
                          / CAST(n * row_t * col_t AS DOUBLE) * 1000000, 0)
                    AS BIGINT) AS term_e6
        FROM tot
    )"""


# The kruskal/dunn census: the pooled value census per_v (v, t), the
# doubled midranks rk and per group g its size ng and rank sum s2 (the
# oracle twin of ``_kruskal_groups``).
_KRUSKAL_GROUPS_SQL = f"""{_events_x("v")},
    per_v AS (
        SELECT v, CAST(COUNT(*) AS BIGINT) AS t FROM x GROUP BY v
    ),
    rk AS (
        SELECT v, t,
               2 * (SUM(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
                 + t + 1 AS r2
        FROM per_v
    ),
    gv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY g, v
    ),
    grp AS (
        SELECT gv.g,
               CAST(SUM(gv.c) AS HUGEINT) AS ng,
               CAST(SUM(gv.c * rk.r2) AS HUGEINT) AS s2
        FROM gv JOIN rk ON rk.v = gv.v
        GROUP BY gv.g
    )"""

# Events with their whole-second epoch (the survival lines' source).
_EVENT_SEC_SQL = """e AS (
        SELECT user_id, event_type,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec
        FROM events
    )"""

# Per-user durations (dur) and the at-risk step table (steps, risk):
# the oracle twin of ``_durations`` / ``_risk_table``.
_RISK_SQL = f"""{_EVENT_SEC_SQL},
    per_user AS (
        SELECT user_id,
               MIN(sec) AS t0,
               MIN(sec) FILTER (WHERE event_type = 'purchase') AS tp,
               MAX(sec) AS tl
        FROM e GROUP BY user_id
    ),
    dur AS (
        SELECT (CASE WHEN tp IS NOT NULL THEN tp ELSE tl END - t0) // 60
                   AS d_min,
               tp IS NOT NULL AS observed
        FROM per_user
    ),
    steps AS (
        SELECT d_min,
               COUNT(*) FILTER (WHERE observed) AS d_i,
               COUNT(*) AS c_all
        FROM dur GROUP BY d_min
    ),
    risk AS (
        SELECT d_min, d_i,
               SUM(c_all) OVER (ORDER BY d_min DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_i
        FROM steps
    )"""

# Per order-priority stratum k: size nk, exposed r1, finished c1 and
# their overlap a (the oracle twin of ``_orders_strata``; each reader
# applies the nk >= 2 filter itself).
_ORDERS_STRATA_SQL = """x AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS k,
               CASE WHEN o_custkey % 2 = 0 THEN 1 ELSE 0 END AS e,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS s
        FROM orders
    ),
    strata AS (
        SELECT k,
               CAST(COUNT(*) AS HUGEINT) AS nk,
               CAST(SUM(e) AS HUGEINT) AS r1,
               CAST(SUM(s) AS HUGEINT) AS c1,
               CAST(SUM(e * s) AS HUGEINT) AS a
        FROM x GROUP BY k
    )"""

# The F-vs-O order samples in cents (x) and their per-price census pv
# (v, ca, t): the oracle twin of ``_fo_census``.
_FO_X_SQL = """x AS (
        SELECT o_orderstatus AS st,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    )"""
_FO_PV_SQL = f"""{_FO_X_SQL},
    pv AS (
        SELECT v,
               CAST(COUNT(*) FILTER (WHERE st = 'F') AS BIGINT) AS ca,
               CAST(COUNT(*) AS BIGINT) AS t
        FROM x GROUP BY v
    )"""
# pos (v, ca, t, cumb, nn): the tie-block positions ``_ab_scores`` scores.
_AB_POS_SQL = f"""{_FO_PV_SQL},
    pos AS (
        SELECT v, ca, t,
               SUM(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t
                 AS cumb,
               SUM(t) OVER () AS nn
        FROM pv
    )"""


def _ab_agg_sql(*extra: str) -> str:
    """The ``agg`` CTE over the Ansari-Bradley block scores ``bs``:
    (nn, n, m, s1, *extra, ab_e3, s2_e3), the e3 fixings of the F
    score total and of the squared-score sum (_AB_FIX's DuckDB twin)."""
    cols = "".join(f"\n               {c}," for c in extra)
    return f"""agg AS (
        SELECT CAST(MAX(nn) AS HUGEINT) AS nn,
               CAST(SUM(ca) AS HUGEINT) AS n,
               CAST(MAX(nn) - SUM(ca) AS HUGEINT) AS m,
               CAST(SUM(bsum) AS HUGEINT) AS s1,{cols}
               CAST(SUM(1000 * ((ca * bsum) // t)
                        + CAST(ROUND(1000.0
                              * CAST((ca * bsum) % t AS DOUBLE)
                              / CAST(t AS DOUBLE), 0) AS HUGEINT))
                    AS HUGEINT) AS ab_e3,
               CAST(SUM(1000 * ((bsum * bsum) // t)
                        + CAST(ROUND(1000.0
                              * CAST((bsum * bsum) % t AS DOUBLE)
                              / CAST(t AS DOUBLE), 0) AS HUGEINT))
                    AS HUGEINT) AS s2_e3
        FROM bs
    )"""


def fix_e6(num: Column, den: Column) -> Column:
    """round(10^6 * num / den) as an exact DECIMAL(38,0): the e6 DIV/MOD
    fixing 10^6 * (num div den) + round(10^6 * (num mod den) / den).

    Precondition: 0 <= num, 0 < den < 2^53, and the result fits
    DECIMAL(38,0) (num < 10^32). The quotient is exact integer
    arithmetic. The remainder r = num mod den is below den < 2^53, so r
    and den convert to DOUBLE exactly; 10^6 * r and the division by den
    are each correctly rounded, so Spark and DuckDB (whose oracles spell
    ``1000000 * (num // den) + CAST(ROUND(1000000.0 * CAST(num % den AS
    DOUBLE) / CAST(den AS DOUBLE), 0) AS HUGEINT)``) round the SAME
    double — identical operand bits, identical result, where a naive
    10^6 * num / den would divide a ~10^24 numerator that no double
    holds exactly. The quotient is a DECIMAL division of num - r, which
    is exact: Spark's ``div`` returns BIGINT and silently wraps
    quotients past 2^63."""
    num, den = num.cast(D38), den.cast(D38)
    return F.lit(1000000).cast(D38) * ((num - num % den) / den).cast(D38) + F.round(
        F.lit(1000000.0) * (num % den).cast("double") / den.cast("double"), 0
    ).cast(D38)


def trunc_div(a: Column, b: Column) -> Column:
    """a / b truncated toward zero, as an exact DECIMAL(38,0): the
    sign-split quotient sign(a) * sign(b) * (|a| div |b|) that DuckDB
    oracles spell with ``//`` on absolute values.

    Precondition: b != 0, |a| + |b| < 10^38, and |a / b| < 10^32 (a
    DECIMAL(38,0) division result keeps 32 integer digits). The DECIMAL
    division |a| / |b| rounded to an integer is floor(|a| / |b|) or one
    more; the one more is taken back where it times |b| overshoots |a|.
    No DECIMAL remainder is taken: per row it cost four times this
    spelling. Spark's ``div`` returns BIGINT and silently wraps
    quotients past 2^63."""
    a, b = a.cast(D38), b.cast(D38)
    q = (F.abs(a) / F.abs(b)).cast(D38)
    q = q - F.when(q * F.abs(b) > F.abs(a), 1).otherwise(0)
    return (F.when(a < 0, -1).otherwise(1) * F.when(b < 0, -1).otherwise(1) * q).cast(D38)


def moment_census(df: DataFrame, cols: list[str], by: tuple[str, ...] = ()) -> DataFrame:
    """(by..., n, s<a>..., s<a><b>...): the count, each column's sum and
    each product sum (a at or before b in `cols`) of the integer columns
    `cols`, per `by` group, in DECIMAL(38,0) — the sufficient statistics
    of least squares and Pearson correlation. Each operand is widened
    before it multiplies: a BIGINT product-and-sum wraps silently past
    2^63. A sum no consumer reads costs nothing: Catalyst's column
    pruning drops its aggregate."""
    w = {c: F.col(c).cast(D38) for c in cols}
    return df.groupBy(*by).agg(
        F.count("*").cast(D38).alias("n"),
        *[F.sum(w[c]).alias(f"s{c}") for c in cols],
        *[F.sum(w[a] * w[b]).alias(f"s{a}{b}") for i, a in enumerate(cols) for b in cols[i:]],
    )


def comoment(a: str, b: str) -> Column:
    """n * S_ab - S_a * S_b over a `moment_census` row: n^2 times the
    covariance of a and b, an exact integer."""
    return F.col("n") * F.col(f"s{a}{b}") - F.col(f"s{a}") * F.col(f"s{b}")


def pearson_r(a: str = "x", b: str = "y") -> Column:
    """Pearson's r of a and b over a `moment_census` row, rounded to 6
    decimals: the three exact comoments cast to DOUBLE once each, so
    both engines divide and take the root of identical operand bits."""
    return F.round(
        comoment(a, b).cast("double")
        / F.sqrt(comoment(a, a).cast("double") * comoment(b, b).cast("double")),
        6,
    )


def _type_cents(spark: SparkSession, sf_dir: str, value: str) -> DataFrame:
    """(g, <value>): every event's type and its value in integer cents."""
    return t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        cents("value").alias(value),
    )


def _type_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, n, s, q) per event type: count, cent sum and cent square sum
    in DECIMAL(38,0) — one map-side-combined census to 5 rows."""
    return _type_cents(spark, sf_dir, "cents").groupBy("g").agg(
        F.count("*").cast(D38).alias("n"),
        F.sum("cents").cast(D38).alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast(D38).alias("q"),
    )


def _oneway_ss(grp: DataFrame) -> DataFrame:
    """1-row (nn, k, ssb_e6, ssw_e6): the one-way ANOVA sums of squares
    from a per-group (n, s, q) DECIMAL(38,0) frame. With A = sum_g
    s_g^2/n_g, SSB = A - S^2/N and SSW = Q - A; every s^2/n is one
    fix_e6, so both sums are exact integers in e6 units."""
    gterm = grp.select(
        "n", "s", "q", fix_e6(F.col("s") * F.col("s"), F.col("n")).alias("term_e6")
    )
    tot = gterm.agg(
        F.sum("n").cast(D38).alias("nn"),
        F.sum("s").cast(D38).alias("ss"),
        F.sum("q").cast(D38).alias("qq"),
        F.sum("term_e6").cast(D38).alias("a_e6"),
        F.count("*").cast(D38).alias("k"),
    )
    return tot.select(
        "nn",
        "k",
        (F.col("a_e6") - fix_e6(F.col("ss") * F.col("ss"), F.col("nn"))).alias(
            "ssb_e6"
        ),
        (F.lit(1000000).cast(D38) * F.col("qq") - F.col("a_e6")).alias("ssw_e6"),
    )


def _chi2_terms(cells: DataFrame, row: str, col: str, *keep: str) -> DataFrame:
    """(*keep, n, term_e6) per cell of a contingency frame of observed
    counts ``o`` (DECIMAL(38,0)) keyed by ``row`` x ``col``; ``keep``
    names the cell columns to carry, ``o`` among them. With
    expected E = row*col/n, (O-E)^2/E is spelled multiplied through as
    (O*n - row*col)^2 / (n*row*col): exact integer operands and one
    double division per cell, e6-rounded; the statistic is the exact
    sum of the cell terms."""
    tot = cells.select(
        *keep,
        F.sum("o").over(Window.partitionBy(row)).alias("row_t"),
        F.sum("o").over(Window.partitionBy(col)).alias("col_t"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    num = F.col("o") * F.col("n") - F.col("row_t") * F.col("col_t")
    return tot.select(
        *keep,
        "n",
        F.round(
            (num * num).cast("double")
            / (F.col("n") * F.col("row_t") * F.col("col_t")).cast("double")
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("term_e6"),
    )


def _lower_median(census: DataFrame, value: str, *by: str) -> DataFrame:
    """(*by, med): per ``by`` group the LOWER median of ``value`` from a
    (*by, value, c) count census — the least value whose running count
    reaches (n + 1) div 2. Exact, no percentile approximation."""
    wcum = (
        Window.partitionBy(*by)
        .orderBy(value)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = census.select(
        *by,
        value,
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy(*by)).alias("n_g"),
    )
    return (
        cum.filter(F.col("cum") >= F.expr("(n_g + 1) div 2"))
        .groupBy(*by)
        .agg(F.min(value).alias("med"))
    )


def _running_by_v() -> WindowSpec:
    """The running frame over the value domain v (every row from the
    first through the current), the cumulative counts of the order
    tests."""
    return Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _fo_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, ca, cb, t) over the finished ('F') and open ('O') orders, the
    two samples of every two-sample order test: per distinct total
    price v in integer cents the 'F' count, the 'O' count and the
    pooled count (BIGINT) — one map-side-combined census to the value
    domain, bounded by the price range, not the rows."""
    x = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus").isin("F", "O"))
        .select(
            F.col("o_orderstatus").alias("st"),
            cents("o_totalprice").alias("v"),
        )
    )
    return x.groupBy("v").agg(
        F.sum(F.when(F.col("st") == "F", 1).otherwise(0)).cast("bigint").alias("ca"),
        F.sum(F.when(F.col("st") == "O", 1).otherwise(0)).cast("bigint").alias("cb"),
        F.count("*").cast("bigint").alias("t"),
    )


def _durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, d_min, observed) per user: whole minutes from the
    first event to the first purchase, or to the last event when the
    user never purchased (censored, observed = false)."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("sec"),
    )
    per_user = e.groupBy("user_id").agg(
        F.min("sec").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("sec"))).alias("tp"),
        F.max("sec").alias("tl"),
    )
    return per_user.select(
        "user_id",
        F.expr("(coalesce(tp, tl) - t0) DIV 60").alias("d_min"),
        F.col("tp").isNotNull().alias("observed"),
    )


def _risk_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d_min, d_i, n_i) per distinct duration: d_i observed events and
    n_i users still at risk (one descending cumulative count over the
    distinct-duration domain)."""
    steps = _durations(spark, sf_dir).groupBy("d_min").agg(
        F.count(F.when(F.col("observed"), 1)).alias("d_i"),
        F.count("*").alias("c_all"),
    )
    wdesc = Window.orderBy(F.col("d_min").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.select("d_min", "d_i", F.sum("c_all").over(wdesc).alias("n_i"))


def daily_census(spark: SparkSession, sf_dir: str, *aggs: Column) -> DataFrame:
    """(event_type, day, *aggs): one row per (type, calendar day), the
    events' ``cents`` aggregated by ``aggs``. The fact table collapses
    to a calendar-bounded frame (about 30 rows per type at any scale)
    in one map-side-combined aggregate."""
    return (
        t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            cents("value").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(*aggs)
    )


def _type_day_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(g, d, v): per event type and calendar day the cent sum — the
    calendar-bounded series the trend, serial and blocked tests read."""
    return daily_census(
        spark, sf_dir, F.sum("cents").cast("bigint").alias("v")
    ).toDF("g", "d", "v")


def _orders_strata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, nk, r1, c1, a) per order-priority stratum with at least two
    orders: the stratum size, the exposed count (even custkey), the
    finished count and their overlap, in DECIMAL(38,0)."""
    x = t(spark, sf_dir, "orders").select(
        F.expr("CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)").alias("k"),
        F.when(F.col("o_custkey") % 2 == 0, 1).otherwise(0).alias("e"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("s"),
    )
    strata = x.groupBy("k").agg(
        F.count("*").cast(D38).alias("nk"),
        F.sum("e").cast(D38).alias("r1"),
        F.sum("s").cast(D38).alias("c1"),
        F.sum(F.col("e") * F.col("s")).cast(D38).alias("a"),
    )
    return strata.filter(F.col("nk") >= 2)


# Theil-Sen pair budget: the estimator is O(n^2) pairs by nature, so
# production fits a RECENT WINDOW per key — this cap IS the scale
# design (pairs <= 300 per key at any sf), mirroring how q_skyline
# bounds its dominance checks.
THEIL_SEN_WINDOW = 25


@register(
    "q_stats_ks_test",
    oracle=f"""
    WITH {_FO_X_SQL},
    per_v AS (
        SELECT v,
               COUNT(*) FILTER (WHERE st = 'F') AS ca,
               COUNT(*) FILTER (WHERE st = 'O') AS cb
        FROM x GROUP BY v
    ),
    cum AS (
        SELECT CAST(SUM(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DECIMAL(38,0)) AS fa,
               CAST(SUM(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DECIMAL(38,0)) AS fb
        FROM per_v
    ),
    g AS (
        SELECT MAX(fa) AS n, MAX(fb) AS m,
               MAX(ABS(fa * (SELECT MAX(fb) FROM cum)
                       - fb * (SELECT MAX(fa) FROM cum))) AS dnum
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_f,
           CAST(m AS BIGINT) AS n_o,
           CAST(dnum AS BIGINT) AS d_num,
           CAST(ROUND(CAST(dnum AS DOUBLE) / CAST(n * m AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS d_e6,
           dnum * dnum * 1000000 > {KS_C2_E6} * (n + m) * n * m
               AS significant
    FROM g
    """,
    tags=("M2", "D10", "E3"),
)
def q_stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV-SMIRNOV test — does the o_totalprice
    distribution differ between finished ('F') and open ('O') orders?
    The sup-distance is computed EXACTLY in integers: with CA(v)/CB(v)
    the cumulative counts at each distinct cent value and n/m the
    sample sizes, D = max |CA/n - CB/m| = max |CA*m - CB*n| / (n*m),
    so d_num is an exact BIGINT and the alpha=0.05 decision is the
    cross-multiplied DECIMAL comparison d_num^2*1e6 > 1.358^2e6*(n+m)*n*m
    — no float ever enters the verdict (q_ab_test's discipline applied
    to a distribution test). The reported d_e6 divides two exact
    < 2^53 integers as doubles, which both engines round identically.

    Plan: ONE map-side-combined count aggregate down to the DISTINCT
    CENT-VALUE domain (bounded by the price range, not the row count),
    one cumulative window over that domain-sized frame, one global
    max. The fact table is scanned once and shuffles only value-domain
    partials; at 100 TB the cumulative step is a range-partitioned
    prefix sum over the same bounded domain."""
    per_v = _fo_census(spark, sf_dir)
    wcum = _running_by_v()
    wall = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = per_v.select(
        "v",
        F.sum("ca").over(wcum).cast(D38).alias("fa"),
        F.sum("cb").over(wcum).cast(D38).alias("fb"),
    ).select(
        "fa",
        "fb",
        F.max("fa").over(wall).alias("n"),
        F.max("fb").over(wall).alias("m"),
    )
    g = cum.agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.max(F.abs(F.col("fa") * F.col("m") - F.col("fb") * F.col("n"))).alias(
            "dnum"
        ),
    )
    return g.select(
        F.col("n").cast("bigint").alias("n_f"),
        F.col("m").cast("bigint").alias("n_o"),
        F.col("dnum").cast("bigint").alias("d_num"),
        F.round(
            F.col("dnum").cast("double")
            / (F.col("n") * F.col("m")).cast("double")
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("d_e6"),
        (
            F.col("dnum") * F.col("dnum") * F.lit(1000000)
            > F.lit(KS_C2_E6) * (F.col("n") + F.col("m")) * F.col("n") * F.col("m")
        ).alias("significant"),
    )


@register(
    "q_stats_gini",
    oracle="""
    WITH x AS (
        SELECT c_mktsegment AS seg,
               CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents,
               c_custkey
        FROM customer WHERE c_acctbal >= 0
    ),
    r AS (
        SELECT seg, cents,
               CAST(ROW_NUMBER() OVER (PARTITION BY seg
                    ORDER BY cents, c_custkey) AS DECIMAL(38,0)) AS i
        FROM x
    ),
    g AS (
        SELECT seg,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(cents) AS DECIMAL(38,0)) AS s,
               SUM(i * cents) AS si
        FROM r GROUP BY seg
    )
    SELECT seg,
           CAST(n AS BIGINT) AS n_customers,
           CAST(s AS BIGINT) AS total_cents,
           CAST(ROUND(CAST(2 * si - (n + 1) * s AS DOUBLE)
                      / CAST(n * s AS DOUBLE) * 1000000, 0) AS BIGINT)
               AS gini_e6
    FROM g ORDER BY seg
    """,
    tags=("M2", "E1", "D1"),
)
def q_stats_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI CONCENTRATION COEFFICIENT of account balance per market
    segment — the Lorenz-curve inequality measure (how concentrated is
    the balance mass?), a standard revenue-concentration / fairness
    audit. Closed form over the ascending sort: G = (2*SUM(i*x_i)
    - (n+1)*SUM(x_i)) / (n*SUM(x_i)), all terms exact DECIMAL(38,0)
    integers (cents, deterministic rank ties by c_custkey); the single
    division happens on identical < 2^53 operands cast to DOUBLE, so
    both engines produce the same double and the same e6 rounding.
    Negative balances are excluded (Gini is defined on non-negative
    mass), stated here rather than hidden.

    Plan: one per-segment rank window (5 partitions, each sorted once
    — at 100 TB this rank comes from a range-partitioned sort or the
    selection engine's histogram ranks) feeding one map-side-combined
    aggregate to 5 rows. No join anywhere."""
    x = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") >= 0)
        .select(
            F.col("c_mktsegment").alias("seg"),
            cents("c_acctbal").alias("cents"),
            "c_custkey",
        )
    )
    w = Window.partitionBy("seg").orderBy("cents", "c_custkey")
    r = x.select(
        "seg", "cents", F.row_number().over(w).cast(D38).alias("i")
    )
    g = r.groupBy("seg").agg(
        F.count("*").cast(D38).alias("n"),
        F.sum("cents").cast(D38).alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("si"),
    )
    num = 2 * F.col("si") - (F.col("n") + 1) * F.col("s")
    den = F.col("n") * F.col("s")
    return g.select(
        "seg",
        F.col("n").cast("bigint").alias("n_customers"),
        F.col("s").cast("bigint").alias("total_cents"),
        F.round(num.cast("double") / den.cast("double") * 1000000, 0)
        .cast("bigint")
        .alias("gini_e6"),
    )


@register(
    "q_survival_km",
    oracle=f"""
    WITH {_RISK_SQL},
    km AS (
        SELECT d_min, d_i, n_i,
               CAST(ROUND(LN(CAST(n_i - d_i AS DOUBLE)
                             / CAST(n_i AS DOUBLE)) * 1000000, 0)
                    AS BIGINT) AS step_ln_e6
        FROM risk WHERE d_i > 0 AND n_i > d_i
    )
    SELECT d_min,
           CAST(d_i AS BIGINT) AS n_events,
           CAST(n_i AS BIGINT) AS n_at_risk,
           CAST(SUM(step_ln_e6) OVER (ORDER BY d_min
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS ln_surv_e6
    FROM km ORDER BY d_min
    """,
    tags=("M2", "E3", "D3"),
)
def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KAPLAN-MEIER survivor curve for time-to-first-purchase — the
    censoring-aware funnel statistic (how long until a user converts,
    counting users who never did as censored at their last activity,
    not as zeros). Durations are exact integer minutes from each
    user's first event; at-risk counts n_i come from ONE descending
    cumulative sum over the distinct-duration step table; the survivor
    product S(t) = prod(1 - d_i/n_i) is carried in LOG space as exact
    e6-fixed step terms (the q_select_dsir / q_text_perplexity
    dictionary-level LN fixing — each LN sees the same small rational
    in both engines) summed as BIGINTs, so no float product ever
    accumulates. Steps where everyone at risk converts (S -> 0) are
    excluded, stated not hidden.

    Plan: one per-user conditional aggregate (map-side combined), one
    groupBy down to the distinct-duration domain, two windows over
    that domain-sized frame. Row count touches only the first
    aggregate; everything after is bounded by the duration domain."""
    risk = _risk_table(spark, sf_dir)
    km = risk.filter((F.col("d_i") > 0) & (F.col("n_i") > F.col("d_i"))).select(
        "d_min",
        "d_i",
        "n_i",
        F.round(
            F.log(
                (F.col("n_i") - F.col("d_i")).cast("double")
                / F.col("n_i").cast("double")
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("step_ln_e6"),
    )
    wasc = Window.orderBy("d_min").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return km.select(
        "d_min",
        F.col("d_i").cast("bigint").alias("n_events"),
        F.col("n_i").cast("bigint").alias("n_at_risk"),
        F.sum("step_ln_e6").over(wasc).cast("bigint").alias("ln_surv_e6"),
    )


@register(
    "q_ts_theil_sen",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    recent AS (
        SELECT user_id, event_id, sec, cents,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY sec DESC, event_id DESC) AS rn
        FROM e
    ),
    sel AS (SELECT * FROM recent WHERE rn <= {THEIL_SEN_WINDOW}),
    pairs AS (
        SELECT a.user_id,
               CAST(b.cents - a.cents AS DOUBLE)
                   / CAST(b.sec - a.sec AS DOUBLE) AS slope,
               a.event_id AS ia, b.event_id AS ib
        FROM sel a JOIN sel b
          ON a.user_id = b.user_id AND a.rn > b.rn AND a.sec <> b.sec
    ),
    ranked AS (
        SELECT user_id, slope,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY slope, ia, ib) AS r,
               COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM pairs
    )
    SELECT user_id,
           CAST(ROUND(AVG(slope) * 1000000, 0) AS BIGINT) AS slope_e6,
           CAST(MAX(cnt) AS BIGINT) AS n_pairs
    FROM ranked
    WHERE r IN ((cnt + 1) // 2, (cnt + 2) // 2)
    GROUP BY user_id ORDER BY user_id
    """,
    tags=("M2", "D10", "C6"),
)
def q_ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust slope per user — the median of all pairwise
    slopes of (event value vs time), the outlier-proof alternative to
    the OLS slope of q_window_rolling_slope (one wild value drags OLS
    arbitrarily; it moves the pairwise median by at most one rank).
    Estimator is O(n^2) pairs by nature, so the query fits the LAST
    {THEIL_SEN_WINDOW} events per user — the cap is the scale design
    (<= {THEIL_SEN_WINDOW * (THEIL_SEN_WINDOW - 1) // 2} pairs per key
    at ANY sf), exactly how production robust-trend monitors bound the
    window. Every slope is the division of two exact integer deltas
    cast to DOUBLE (same IEEE double in both engines), the median is
    an explicit middle-rank selection with deterministic tie order
    (slope, ia, ib) — no percentile interpolation ambiguity — and the
    final e6 rounding acts on identical doubles.

    Plan: one per-user rank window, one within-user equi-join (keyed
    on user_id, pair-bounded by the cap), one rank window over the
    pair set, one aggregate. All shuffles are keyed by user_id."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("sec"),
        cents("value").alias("cents"),
    )
    wrn = Window.partitionBy("user_id").orderBy(
        F.col("sec").desc(), F.col("event_id").desc()
    )
    # pinned: the capped last-W-per-user frame (≤ W rows/user) feeds
    # BOTH self-join sides — unpinned, each side re-paid the fact-wide
    # rank window shuffle+sort
    sel = pin(
        e.select(
            "user_id", "event_id", "sec", "cents",
            F.row_number().over(wrn).alias("rn"),
        )
        .filter(F.col("rn") <= THEIL_SEN_WINDOW),
        "q_ts_theil_sen.sel",
    )
    a = sel.select(
        "user_id",
        F.col("event_id").alias("ia"),
        F.col("sec").alias("sa"),
        F.col("cents").alias("va"),
        F.col("rn").alias("ra"),
    )
    b = sel.select(
        F.col("user_id").alias("user_id_b"),
        F.col("event_id").alias("ib"),
        F.col("sec").alias("sb"),
        F.col("cents").alias("vb"),
        F.col("rn").alias("rb"),
    )
    pairs = a.join(
        b,
        (F.col("user_id") == F.col("user_id_b"))
        & (F.col("ra") > F.col("rb"))
        & (F.col("sa") != F.col("sb")),
        "inner",
    ).select(
        "user_id",
        (
            (F.col("vb") - F.col("va")).cast("double")
            / (F.col("sb") - F.col("sa")).cast("double")
        ).alias("slope"),
        "ia",
        "ib",
    )
    wrank = Window.partitionBy("user_id").orderBy("slope", "ia", "ib")
    wcnt = Window.partitionBy("user_id")
    ranked = pairs.select(
        "user_id",
        "slope",
        F.row_number().over(wrank).alias("r"),
        F.count("*").over(wcnt).alias("cnt"),
    )
    mid = ranked.filter(F.expr("r IN ((cnt + 1) DIV 2, (cnt + 2) DIV 2)"))
    return (
        mid.groupBy("user_id")
        .agg(
            F.round(F.avg("slope") * 1000000, 0).cast("bigint").alias("slope_e6"),
            F.max("cnt").cast("bigint").alias("n_pairs"),
        )
    )


# Mann-Whitney rejection at alpha = 0.05 two-sided: z^2 > 1.96^2 with
# the tie-corrected variance, cross-multiplied to integers (e4 scale:
# 1.96^2 = 3.8416 = 38416 / 1e4).
MW_Z2_E4 = 196 * 196  # 38,416


@register(
    "q_stats_mann_whitney",
    oracle=f"""
    WITH x AS (
        SELECT event_type,
               user_id % 2 = 0 AS treat,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v
        FROM events
    ),
    per_v AS (
        SELECT event_type, v,
               CAST(COUNT(*) FILTER (WHERE treat) AS BIGINT) AS n1v,
               CAST(COUNT(*) AS BIGINT) AS nv
        FROM x GROUP BY event_type, v
    ),
    cum AS (
        SELECT event_type, v, n1v, nv,
               CAST(SUM(nv) OVER (PARTITION BY event_type ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - nv AS BIGINT) AS c_lt
        FROM per_v
    ),
    g AS (
        SELECT event_type,
               CAST(SUM(n1v) AS DECIMAL(38,0)) AS n1,
               CAST(SUM(nv - n1v) AS DECIMAL(38,0)) AS n2,
               CAST(SUM(nv) AS DECIMAL(38,0)) AS n,
               CAST(SUM(n1v * (2 * c_lt + nv + 1)) AS DECIMAL(38,0))
                   AS r1x2,
               CAST(SUM(nv * nv * nv - nv) AS DECIMAL(38,0)) AS tie3
        FROM cum GROUP BY event_type
    ),
    u AS (
        SELECT event_type, n1, n2, n,
               r1x2 - n1 * (n1 + 1) AS u1x2,
               (n + 1) * n * (n - 1) - tie3 AS kk
        FROM g
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_treat,
           CAST(n2 AS BIGINT) AS n_control,
           CAST(u1x2 AS BIGINT) AS u1_x2,
           CAST(ROUND(CAST(u1x2 AS DOUBLE)
                      / CAST(2 * n1 * n2 AS DOUBLE) * 1000000, 0)
                AS BIGINT) AS auc_e6,
           (u1x2 - n1 * n2) * (u1x2 - n1 * n2) * 12 * n * (n - 1) * 10000
               > 4 * {MW_Z2_E4} * n1 * n2 * kk AS significant
    FROM u ORDER BY event_type
    """,
    tags=("M2", "E3", "D3"),
)
def q_stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U test per event_type — the rank-based
    (distribution-free) twin of q_ab_test's pooled-variance t-test on
    the SAME treatment split (even user_id), detecting stochastic
    dominance a mean test misses under skew. Everything is exact:
    midranks come from the tie census (2*midrank = 2*c_lt + t + 1, an
    integer), so 2*R1 and 2*U1 are exact BIGINTs; the reported effect
    size is the AUC U1/(n1*n2) (the probability a random treated value
    exceeds a random control one) via the identical-operands double
    division; and the alpha=0.05 verdict uses the TIE-CORRECTED normal
    variance cross-multiplied into DECIMAL(38,0) — wholly float-free:
    (2U1 − n1n2)²·12n(n−1)·10⁴ > 4·1.96²e4·n1n2·[(n+1)n(n−1) − Σ(t³−t)].

    Plan: ONE map-side-combined census down to the (event_type,
    distinct-cent-value) domain, one cumulative window over that
    domain-sized frame (per-type partitions), one final aggregate to 5
    rows. Same scan shape as q_stats_ks_test — the whole two-sample
    testing pack rides a single census pattern."""
    x = t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 2 == 0).alias("treat"),
        cents("value").alias("v"),
    )
    per_v = x.groupBy("event_type", "v").agg(
        F.count(F.when(F.col("treat"), 1)).cast("bigint").alias("n1v"),
        F.count("*").cast("bigint").alias("nv"),
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_v.select(
        "event_type",
        "n1v",
        "nv",
        (F.sum("nv").over(wcum) - F.col("nv")).cast("bigint").alias("c_lt"),
    )
    g = cum.groupBy("event_type").agg(
        F.sum("n1v").cast(D38).alias("n1"),
        F.sum(F.col("nv") - F.col("n1v")).cast(D38).alias("n2"),
        F.sum("nv").cast(D38).alias("n"),
        F.sum(F.col("n1v") * (2 * F.col("c_lt") + F.col("nv") + 1))
        .cast(D38)
        .alias("r1x2"),
        F.sum(F.col("nv") * F.col("nv") * F.col("nv") - F.col("nv"))
        .cast(D38)
        .alias("tie3"),
    )
    u1x2 = F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)
    kk = (F.col("n") + 1) * F.col("n") * (F.col("n") - 1) - F.col("tie3")
    return (
        g.select(
            "event_type",
            F.col("n1").cast("bigint").alias("n_treat"),
            F.col("n2").cast("bigint").alias("n_control"),
            u1x2.cast("bigint").alias("u1_x2"),
            F.round(
                u1x2.cast("double")
                / (2 * F.col("n1") * F.col("n2")).cast("double")
                * 1000000,
                0,
            )
            .cast("bigint")
            .alias("auc_e6"),
            (
                (u1x2 - F.col("n1") * F.col("n2"))
                * (u1x2 - F.col("n1") * F.col("n2"))
                * 12
                * F.col("n")
                * (F.col("n") - 1)
                * 10000
                > 4 * F.lit(MW_Z2_E4) * F.col("n1") * F.col("n2") * kk
            ).alias("significant"),
        )
    )


# Poisson(1) inverse-CDF thresholds in e6 units of a uniform hash draw
# (cumulative e^-1/k! masses, truncated at 5 — residual mass 0.04%).
# Shared literals = both engines draw the SAME integer weight for the
# same (row, replicate), which is what makes the bootstrap exact.
POIS_E6 = (367879, 735759, 919699, 980998, 996340)
BOOTSTRAP_B = 100

# Chi-square df=4 critical value at alpha=0.05, e6-fixed.
CHI2_DF4_E6 = 9_487_729


def _chi2_df4_q(num: Column, den: Column, floor: str) -> list[Column]:
    """(q_num, q_den, q_e6_floor, significant) of a Q = num / den
    statistic judged against chi-square df = 4: ``floor`` spells the e6
    floor quotient (0 where den <= 0), and the verdict is the
    cross-multiplied num * 10^6 > CHI2_DF4_E6 * den."""
    return [
        num.cast("bigint").alias("q_num"),
        den.cast("bigint").alias("q_den"),
        F.when(den > 0, F.expr(floor)).otherwise(0).cast("bigint").alias("q_e6_floor"),
        ((den > 0) & (num * 1000000 > F.lit(CHI2_DF4_E6) * den)).alias("significant"),
    ]


def _pois_weight_sql(u: str) -> str:
    """CASE ladder mapping a uniform e6 draw to a Poisson(1) weight —
    one spelling used verbatim in BOTH the Spark selectExpr and the
    DuckDB oracle."""
    return (
        f"CASE WHEN {u} < {POIS_E6[0]} THEN 0 "
        f"WHEN {u} < {POIS_E6[1]} THEN 1 "
        f"WHEN {u} < {POIS_E6[2]} THEN 2 "
        f"WHEN {u} < {POIS_E6[3]} THEN 3 "
        f"WHEN {u} < {POIS_E6[4]} THEN 4 ELSE 5 END"
    )


@register(
    "q_stats_bootstrap_ci",
    oracle=f"""
    WITH x AS (
        SELECT event_id, event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    drawn AS (
        SELECT event_type, cents, b,
               ('0x' || substring(md5(CAST(event_id AS VARCHAR) || ':'
                                      || CAST(b AS VARCHAR)), 1, 8))::BIGINT
                   % 1000000 AS u
        FROM x, UNNEST(range(1, {BOOTSTRAP_B + 1})) AS r(b)
    ),
    weighted AS (
        SELECT event_type, b, cents,
               {_pois_weight_sql("u")} AS w
        FROM drawn
    ),
    reps AS (
        SELECT event_type, b,
               CAST(ROUND(CAST(SUM(w * cents) AS DOUBLE)
                          / CAST(NULLIF(SUM(w), 0) AS DOUBLE) * 100, 0)
                    AS BIGINT) AS mean_e2
        FROM weighted GROUP BY event_type, b
    ),
    ranked AS (
        SELECT event_type, mean_e2,
               ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY mean_e2, b) AS r
        FROM reps
    ),
    ci AS (
        SELECT event_type,
               MAX(CASE WHEN r = 5 THEN mean_e2 END) AS lo_e2,
               MAX(CASE WHEN r = 96 THEN mean_e2 END) AS hi_e2
        FROM ranked GROUP BY event_type
    ),
    pt AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(CAST(SUM(cents) AS DOUBLE)
                          / CAST(COUNT(*) AS DOUBLE) * 100, 0) AS BIGINT)
                   AS mean_e2
        FROM x GROUP BY event_type
    )
    SELECT p.event_type, p.n, p.mean_e2, c.lo_e2, c.hi_e2
    FROM pt p JOIN ci c ON c.event_type = p.event_type
    ORDER BY p.event_type
    """,
    tags=("M2", "B6", "D3"),
)
def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POISSON BOOTSTRAP 90% confidence interval for the mean value per
    event_type — THE distributed bootstrap: classical resampling draws
    n rows WITH replacement per replicate (a shuffle per replicate, a
    coordination disaster at scale); the Poisson trick replaces it
    with a MAP-SIDE weight w ~ Poisson(1) per (row, replicate) —
    multinomial(n, 1/n) converges to iid Poisson(1) — so all
    {BOOTSTRAP_B} replicates ride ONE pass and one census shuffle of
    (type x replicate) partials. Weights are drawn from the
    engine-portable 32-bit md5-prefix hash (the q_split_kfold family),
    so the whole simulation is deterministic and cross-engine exact;
    replicate means and the point estimate use the identical-operands
    double rule; CI bounds are explicit order statistics (ranks 5 and
    96 of the {BOOTSTRAP_B} replicate means, deterministic ties by b).

    Plan: the replicate explode happens AFTER projecting to (id, type,
    cents) — a {BOOTSTRAP_B}x row fan-out of a 3-column frame, all
    map-side; the only shuffles carry (type x {BOOTSTRAP_B}) partials
    and the 5-row point census. At 100 TB replicate count, not row
    count, is the knob — exactly why Google-scale pipelines bootstrap
    this way."""
    x = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    # The replicate fan-out multiplies per-row work by B; the fixture
    # table is ONE parquet split, which would serialize all B x N md5
    # draws in a single task (measured 8.2 s -> 0.9 s at sf0.1). At
    # 100 TB the scan's own splits provide this parallelism for free;
    # local fixtures must ask for it.
    x = x.repartition(spark.sparkContext.defaultParallelism, "event_id")
    drawn = x.select(
        "event_type",
        "cents",
        F.explode(
            F.array(*[F.lit(b) for b in range(1, BOOTSTRAP_B + 1)])
        ).alias("b"),
        "event_id",
    ).select(
        "event_type",
        "cents",
        "b",
        (
            md5_int(
                F.concat(
                    F.col("event_id").cast("string"), F.lit(":"), F.col("b").cast("string")
                ),
                8,
            )
            % 1000000
        ).alias("u"),
    )
    weighted = drawn.selectExpr(
        "event_type", "b", "cents", _pois_weight_sql("u") + " AS w"
    )
    reps = weighted.groupBy("event_type", "b").agg(
        F.round(
            F.sum(F.col("w") * F.col("cents")).cast("double")
            / F.nullif(F.sum("w"), F.lit(0)).cast("double")
            * 100,
            0,
        )
        .cast("bigint")
        .alias("mean_e2")
    )
    wr = Window.partitionBy("event_type").orderBy("mean_e2", "b")
    ranked = reps.select(
        "event_type", "mean_e2", F.row_number().over(wr).alias("r")
    )
    ci = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("r") == 5, F.col("mean_e2"))).alias("lo_e2"),
        F.max(F.when(F.col("r") == 96, F.col("mean_e2"))).alias("hi_e2"),
    )
    pt = x.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(
            F.sum("cents").cast("double") / F.count("*").cast("double") * 100,
            0,
        )
        .cast("bigint")
        .alias("mean_e2"),
    )
    return (
        pt.join(ci, "event_type")
        .select("event_type", "n", "mean_e2", "lo_e2", "hi_e2")
    )


@register(
    "q_stats_chi2",
    oracle=f"""
    WITH cells AS (
        SELECT event_type, user_id % 2 = 0 AS treat,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS o
        FROM events GROUP BY event_type, treat
    ),
    {_chi2_terms_sql("event_type", "treat", "n")}
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(SUM(term_e6) AS BIGINT) AS chi2_e6,
           SUM(term_e6) > {CHI2_DF4_E6} AS significant
    FROM terms
    """,
    tags=("M2", "D6", "D3"),
)
def q_stats_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARE test of independence — is event_type independent of
    the treatment split (even user_id)? The 5x2 contingency comes from
    ONE census; with expected counts E = row*col/n, each cell's term
    (O-E)^2/E is spelled multiplied-through as (O*n - row*col)^2 /
    (n*row*col): numerator and denominator are exact DECIMAL(38,0)
    integers, the division happens once per cell on identical operand
    bits (10 cells), and the statistic is the exact BIGINT sum of the
    per-cell e6 fixings. The alpha=0.05 verdict compares against the
    df = (5-1)(2-1) = 4 critical value 9.487729 as an e6 literal — integer vs integer, no float in the decision given the
    per-cell fixings. Completes the classical testing quartet next to
    the t (q_ab_test), U (q_stats_mann_whitney) and KS
    (q_stats_ks_test) tests.

    Plan: one map-side-combined census to 10 cells; three windows over
    that 10-row frame; one global sum. The fact table is scanned
    once."""
    cells = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", (F.col("user_id") % 2 == 0).alias("treat"))
        .agg(F.count("*").cast(D38).alias("o"))
    )
    terms = _chi2_terms(cells, "event_type", "treat", "o")
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
        (F.sum("term_e6") > F.lit(CHI2_DF4_E6)).alias("significant"),
    )


# Runs-test rejection at alpha = 0.05 two-sided: z^2 > 1.96^2, same e4
# cross-multiplication as Mann-Whitney.
RUNS_Z2_E4 = 196 * 196


@register(
    "q_stats_runs_test",
    oracle=f"""
    WITH e AS (
        SELECT event_id,
               CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS sec,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    med AS (
        SELECT CAST(ROUND(CAST(quantile_disc(cents, 0.5) AS DOUBLE), 0)
                    AS BIGINT) AS m
        FROM e
    ),
    signs AS (
        SELECT sec, event_id, cents > (SELECT m FROM med) AS above
        FROM e WHERE cents <> (SELECT m FROM med)
    ),
    seq AS (
        SELECT above,
               LAG(above) OVER (ORDER BY sec, event_id) AS prev
        FROM signs
    ),
    g AS (
        SELECT CAST(COUNT(*) FILTER (WHERE above) AS DECIMAL(38,0)) AS n1,
               CAST(COUNT(*) FILTER (WHERE NOT above) AS DECIMAL(38,0)) AS n2,
               CAST(1 + COUNT(*) FILTER (WHERE prev IS NOT NULL
                                         AND above <> prev)
                    AS DECIMAL(38,0)) AS r
        FROM seq
    )
    SELECT CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           (r * (n1 + n2) - 2 * n1 * n2 - (n1 + n2))
             * (r * (n1 + n2) - 2 * n1 * n2 - (n1 + n2))
             * ((n1 + n2) - 1) * 10000
             > {RUNS_Z2_E4} * 2 * n1 * n2 * (2 * n1 * n2 - (n1 + n2))
               AS significant
    FROM g
    """,
    tags=("M2", "E2", "D9"),
)
def q_stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WALD-WOLFOWITZ RUNS TEST — is the event-value stream random
    around its median, or does it trend/cluster (the serial-dependence
    audit that complements q_quality_benford's digit audit and the
    CUSUM changepoint: iid data should alternate sides often; too few
    runs means regime persistence, too many means oscillation)?
    Median via the exact distributed selection (percentile_disc /
    quantile_disc, the q_anomaly_mad bit-identical pair); exact-median
    ties excluded, stated. The run count is ONE lag comparison over
    the time order; the alpha=0.05 two-sided verdict is wholly
    float-free: with mu = 2n1n2/n + 1 and sigma^2 = 2n1n2(2n1n2-n) /
    (n^2(n-1)), z^2 > 1.96^2 cross-multiplies to an exact
    DECIMAL(38,0) comparison (both sides scaled by n^4(n-1)*10^4 —
    the q_ab_test multiply-through discipline on a messier variance).

    Plan: one selection for the median, one lag window over the time
    order (at 100 TB: range-partitioned by time with boundary-row
    exchange — the q_timeseries family's documented spelling), one
    conditional aggregate to 3 numbers."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        F.unix_timestamp(F.date_trunc("second", "ts")).alias("sec"),
        cents("value").alias("cents"),
    )
    med = e.agg(
        F.expr(
            "CAST(ROUND(CAST(percentile_disc(0.5) WITHIN GROUP"
            " (ORDER BY cents) AS DOUBLE), 0) AS BIGINT)"
        ).alias("m")
    )
    signs = e.crossJoin(F.broadcast(med)).filter(
        F.col("cents") != F.col("m")
    ).select("sec", "event_id", (F.col("cents") > F.col("m")).alias("above"))
    w = Window.orderBy("sec", "event_id")
    seq = signs.select("above", F.lag("above").over(w).alias("prev"))
    g = seq.agg(
        F.count(F.when(F.col("above"), 1)).cast(D38).alias("n1"),
        F.count(F.when(~F.col("above"), 1)).cast(D38).alias("n2"),
        (
            1
            + F.count(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev")),
                    1,
                )
            )
        )
        .cast(D38)
        .alias("r"),
    )
    n = F.col("n1") + F.col("n2")
    # minimal multiplied-through form (both sides divided by n^2 keeps
    # every term within DECIMAL(38,0) headroom even at adversarial R)
    num = F.col("r") * n - 2 * F.col("n1") * F.col("n2") - n
    var_term = (
        2 * F.col("n1") * F.col("n2") * (2 * F.col("n1") * F.col("n2") - n)
    )
    return g.select(
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("r").cast("bigint").alias("n_runs"),
        (num * num * (n - 1) * 10000 > F.lit(RUNS_Z2_E4) * var_term).alias(
            "significant"
        ),
    )


@register(
    "q_stats_spearman",
    oracle="""
    WITH x AS (
        SELECT event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    ),
    cv AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS t
        FROM x GROUP BY event_type, v
    ),
    rv AS (
        SELECT event_type, v,
               2 * (SUM(t) OVER (PARTITION BY event_type ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
                 + t + 1 AS r2
        FROM cv
    ),
    ck AS (
        SELECT event_type, k, CAST(COUNT(*) AS BIGINT) AS t
        FROM x GROUP BY event_type, k
    ),
    rk AS (
        SELECT event_type, k,
               2 * (SUM(t) OVER (PARTITION BY event_type ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t)
                 + t + 1 AS r2
        FROM ck
    ),
    ranked AS (
        SELECT x.event_type, rv.r2 AS rx, rk.r2 AS ry
        FROM x
        JOIN rv ON rv.event_type = x.event_type AND rv.v = x.v
        JOIN rk ON rk.event_type = x.event_type AND rk.k = x.k
    ),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
               CAST(SUM(rx) AS DECIMAL(38,0)) AS sx,
               CAST(SUM(ry) AS DECIMAL(38,0)) AS sy,
               CAST(SUM(rx * ry) AS DECIMAL(38,0)) AS sxy,
               CAST(SUM(rx * rx) AS DECIMAL(38,0)) AS sxx,
               CAST(SUM(ry * ry) AS DECIMAL(38,0)) AS syy
        FROM ranked GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_rows,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS rho
    FROM s ORDER BY event_type
    """,
    tags=("M2", "H8", "D10"),
)
def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION per event_type between the event value
    and the JSON payload's k field — the monotone-association measure
    that survives outliers and nonlinearity where Pearson
    (q_timeseries_xcorr's algebra) does not, with EXACT tie handling:
    the fractional midrank (c_lt + (t+1)/2) is carried DOUBLED as the
    integer 2*c_lt + t + 1 (the q_stats_mann_whitney tie-census
    identity), so every rank is a BIGINT, all six sufficient
    statistics are exact DECIMAL(38,0) (the doubling cancels in rho),
    and the one float expression runs on identical operand bits in
    both engines (the xcorr SQRT discipline).

    Plan — ranks WITHOUT ranking the fact table: a per-(type, value)
    census + a cumulative window over the DOMAIN-sized frame yields
    every row's midrank, joined back by (type, value) — two
    domain-bounded dimension joins (k's domain is 0..99; Catalyst
    broadcasts both), the fact table scanned once and never windowed.
    The naive spelling (RANK() over each per-type partition) sorts
    the whole fact table twice in |type| tasks — the guaranteed-skew
    plan the census spelling exists to avoid."""
    x = t(spark, sf_dir, "events").select(
        "event_type",
        cents("value").alias("v"),
        F.expr(
            "CAST(from_json(props, 'k INT').k AS BIGINT)"
        ).alias("k"),
    )
    # Round 12: ONE joint census replaces three fact passes (two
    # marginal censuses + the per-row rank join). The joint (type, v,
    # k) census is pinned (the q_stats_kendall rule — Catalyst's
    # per-consumer subtree specialization defeats exchange reuse);
    # both midrank frames are its marginals, and the sufficient
    # statistics are the SAME integer sums with each cell weighted by
    # its count c (Σ_rows rx·ry = Σ_cells c·rx·ry — exact BIGINT
    # regrouping, identical operand bits into the one float rho).
    cells = pin(
        x.groupBy("event_type", "v", "k").agg(
            F.count("*").cast("bigint").alias("c")
        ),
        "q_stats_spearman.cells",
    )

    def midranks(col):
        c = cells.groupBy("event_type", col).agg(
            F.sum("c").cast("bigint").alias("t")
        )
        w = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return c.select(
            "event_type",
            col,
            (2 * (F.sum("t").over(w) - F.col("t")) + F.col("t") + 1).alias(
                "r2"
            ),
        )

    rv = midranks("v").withColumnRenamed("r2", "rx")
    rk = midranks("k").withColumnRenamed("r2", "ry")
    ranked = cells.join(rv, ["event_type", "v"]).join(rk, ["event_type", "k"])
    d38 = "decimal(38,0)"
    # products cast to DECIMAL(38,0) BEFORE the sum: a BIGINT
    # accumulator over c·r² terms wraps past ~sf10 (the ansari
    # div-wrap class); values are identical wherever both fit.
    s = ranked.groupBy("event_type").agg(
        F.sum("c").cast(d38).alias("n"),
        F.sum((F.col("c") * F.col("rx")).cast(d38)).alias("sx"),
        F.sum((F.col("c") * F.col("ry")).cast(d38)).alias("sy"),
        F.sum(
            (F.col("c") * F.col("rx")).cast(d38) * F.col("ry")
        ).alias("sxy"),
        F.sum(
            (F.col("c") * F.col("rx")).cast(d38) * F.col("rx")
        ).alias("sxx"),
        F.sum(
            (F.col("c") * F.col("ry")).cast(d38) * F.col("ry")
        ).alias("syy"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_rows"),
        pearson_r().alias("rho"),
    )


# ---------------------------------------------------------------------------
# Round-10 additions: Kendall tau-b, one-way ANOVA, Cramér's V, and the
# sign test with Benjamini–Hochberg FDR control — same house discipline
# (census → domain-bounded frame → exact integer / identical-double
# verdicts, brute-force pytest twins in tests/test_stats.py).
# ---------------------------------------------------------------------------


@register(
    "q_stats_kendall",
    oracle="""
    WITH x AS (
        SELECT event_type AS g,
               CAST(ROUND(value * 100, 0) AS BIGINT) // 100 AS v,
               CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events
    ),
    cells AS (
        SELECT g, v, k, CAST(COUNT(*) AS BIGINT) AS c
        FROM x GROUP BY g, v, k
    ),
    vd AS (SELECT DISTINCT g, v FROM x),
    kd AS (SELECT DISTINCT g, k FROM x),
    grid AS (
        SELECT vd.g, vd.v, kd.k, COALESCE(cl.c, 0) AS c
        FROM vd JOIN kd ON kd.g = vd.g
        LEFT JOIN cells cl ON cl.g = vd.g AND cl.v = vd.v AND cl.k = kd.k
    ),
    p1 AS (
        SELECT *, SUM(c) OVER (PARTITION BY g, k ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv
        FROM grid
    ),
    p2 AS (
        SELECT *, SUM(pv) OVER (PARTITION BY g, v ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        FROM p1
    ),
    p3 AS (
        SELECT g, v, k, c,
               COALESCE(LAG(p - pv) OVER (PARTITION BY g, k ORDER BY v),
                        0) AS ll,
               COALESCE(LAG(p) OVER (PARTITION BY g, k ORDER BY v),
                        0) AS pvm1k
        FROM p2
    ),
    vm AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS tv FROM x GROUP BY g, v
    ),
    vmc AS (
        SELECT g, v, tv,
               SUM(tv) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - tv AS cvm1
        FROM vm
    ),
    cd AS (
        SELECT p3.g,
               CAST(SUM(p3.c * (p3.ll - (vmc.cvm1 - p3.pvm1k)))
                    AS DECIMAL(38,0)) AS cmd
        FROM p3 JOIN vmc ON vmc.g = p3.g AND vmc.v = p3.v
        GROUP BY p3.g
    ),
    t1 AS (
        SELECT g, CAST(SUM(tv) AS DECIMAL(38,0)) AS n,
               CAST(SUM(tv * (tv - 1) / 2) AS DECIMAL(38,0)) AS n1
        FROM vm GROUP BY g
    ),
    km AS (
        SELECT g, k, CAST(COUNT(*) AS BIGINT) AS tk FROM x GROUP BY g, k
    ),
    t2 AS (
        SELECT g, CAST(SUM(tk * (tk - 1) / 2) AS DECIMAL(38,0)) AS n2
        FROM km GROUP BY g
    )
    SELECT cd.g AS event_type,
           CAST(t1.n AS BIGINT) AS n_rows,
           CAST(cd.cmd AS BIGINT) AS con_minus_dis,
           ROUND(CAST(cd.cmd AS DOUBLE)
                 / SQRT(CAST(t1.n * (t1.n - 1) / 2 - t1.n1 AS DOUBLE)
                        * CAST(t1.n * (t1.n - 1) / 2 - t2.n2 AS DOUBLE)),
                 6) AS tau_b
    FROM cd JOIN t1 ON t1.g = cd.g JOIN t2 ON t2.g = cd.g
    ORDER BY event_type
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL RANK CORRELATION (tau-b, the tie-corrected form) per
    event_type between the event value in whole dollars and the JSON
    payload's k field — the pair-concordance companion to
    q_stats_spearman's midrank algebra, with C − D computed EXACTLY
    and O(n^2)-free.

    Plan — concordance WITHOUT enumerating pairs: one joint census to
    (value, k) cells, then a DENSE DOMAIN GRID (observed v-domain x
    observed k-domain per type, bounded by the VALUE DOMAINS — ~500 x
    100 cells — never by row count) carries a 2D prefix sum built
    from two cumulative windows (over v within k, then over k within
    v; P(v,k-1) falls out as P - Pv with no extra pass). Each cell
    then reads its strictly-smaller-both quadrant LL = P(v-1,k-1) and
    its discordant quadrant LG = C(v-1) - P(v-1,k) from one LAG, and
    C - D = sum c * (LL - LG) counts every pair exactly once at its
    larger-v member. Tie corrections n1/n2 come from the two marginal
    censuses; tau_b's one float expression (the sqrt quotient) runs on
    exact integer operands below 2^53 (the bound q_stats_spearman
    documents).
    The naive spelling is a self-join of n rows with n rows per type
    — 4 * 10^6 pairs at sf0.01 and ruinous at any real scale; the
    grid spelling's cost is fixed by the domains alone.
    """
    x = t(spark, sf_dir, "events").withColumn("c", cents("value")).select(
        F.col("event_type").alias("g"),
        F.expr("c div 100").alias("v"),
        F.expr("CAST(from_json(props, 'k INT').k AS BIGINT)").alias("k"),
    )
    cells = pin(
        x.groupBy("g", "v", "k").agg(
            F.count("*").cast("bigint").alias("c")
        ),
        "q_stats_kendall.cells",
    )
    # Every marginal below derives from the JOINT census, not from x
    # (round-12 optimization): the before-plan re-ran the fact scan +
    # JSON parse once per marginal (6 scans of events). Deriving from
    # `cells` alone is not enough — Catalyst specializes each copy of
    # the census subtree per consumer (RemoveRedundantAggregates +
    # column pruning), so neither static ReuseExchange nor AQE stage
    # reuse dedupes them (measured: all scans still ran). The eager
    # pin of the DOMAIN-BOUNDED census (|v-domain| x |k-domain| x 5
    # groups, never row count) is what actually makes the fact pass
    # run once (6 consumers). Values are
    # unchanged: vm/km sum the cell counts the marginal censuses
    # counted directly, and the distinct (g,v)/(g,k) domains are
    # exactly the marginal censuses' key sets.
    vm = cells.groupBy("g", "v").agg(F.sum("c").cast("bigint").alias("tv"))
    km = cells.groupBy("g", "k").agg(F.sum("c").cast("bigint").alias("tk"))
    vd = vm.select("g", "v")
    kd = km.select("g", "k")
    grid = (
        vd.join(kd, "g")
        .join(cells, ["g", "v", "k"], "left")
        .na.fill({"c": 0})
    )
    wv = (
        Window.partitionBy("g", "k")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wk = (
        Window.partitionBy("g", "v")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p1 = grid.withColumn("pv", F.sum("c").over(wv))
    p2 = p1.withColumn("p", F.sum("pv").over(wk))
    wlag = Window.partitionBy("g", "k").orderBy("v")
    p3 = p2.select(
        "g",
        "v",
        "c",
        F.coalesce(
            F.lag(F.col("p") - F.col("pv")).over(wlag), F.lit(0)
        ).alias("ll"),
        F.coalesce(F.lag("p").over(wlag), F.lit(0)).alias("pvm1k"),
    )
    wvm = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    vmc = vm.withColumn("cvm1", F.sum("tv").over(wvm) - F.col("tv"))
    terms = p3.join(vmc.select("g", "v", "cvm1"), ["g", "v"])
    cd = terms.groupBy("g").agg(
        F.sum(
            F.col("c") * (F.col("ll") - (F.col("cvm1") - F.col("pvm1k")))
        )
        .cast(D38)
        .alias("cmd")
    )
    t1 = vm.groupBy("g").agg(
        F.sum("tv").cast(D38).alias("n"),
        F.sum(F.expr("tv * (tv - 1) div 2")).cast(D38).alias("n1"),
    )
    t2 = km.groupBy("g").agg(
        F.sum(F.expr("tk * (tk - 1) div 2")).cast(D38).alias("n2")
    )
    n0 = F.expr("n * (n - 1) / 2")
    return (
        cd.join(t1, "g")
        .join(t2, "g")
        .select(
            F.col("g").alias("event_type"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("cmd").cast("bigint").alias("con_minus_dis"),
            F.round(
                F.col("cmd").cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                ),
                6,
            ).alias("tau_b"),
        )
    )


# One-way ANOVA rejection at alpha = 0.05 with df1 = 4: the df2 = inf
# critical value 2.3719, e4-fixed; cross-multiplied like RUNS_Z2_E4.
# (At every fixture SF df2 = n - 5 is in the thousands, where the true
# critical value differs from the asymptote only in the 4th decimal;
# the decision stays an exact integer comparison either way.)
ANOVA_F_CRIT_E4 = 23719


@register(
    "q_stats_anova",
    oracle=f"""
    WITH {_events_x("cents")},
    {_GRP_SQL},
    {_oneway_ss_sql("g, n, s, q")}
    SELECT CAST(nn AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k_groups,
           CAST(ssb_e6 AS BIGINT) AS ssb_e6,
           CAST(ssw_e6 AS BIGINT) AS ssw_e6,
           CAST((ssb_e6 * (nn - k) * 1000000)
                // (ssw_e6 * (k - 1)) AS BIGINT) AS f_e6_floor,
           ssb_e6 * (nn - k) * 10000
             > {ANOVA_F_CRIT_E4} * ssw_e6 * (k - 1) AS significant
    FROM fin
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-WAY ANOVA — does mean event value (cents) differ across the
    five event types? Generalizes q_ab_test's two-sample t to k
    groups; completes the classical battery next to Kruskal-free rank
    tests (Mann-Whitney) and the chi-square.

    Exactness: each group's between-term s_g^2/n_g goes through
    fix_e6 (a naive 10^6*s^2/n would divide a ~10^24 numerator), and
    SSB_e6 / SSW_e6 are exact integer sums of those fixings
    (``_oneway_ss``); the F statistic is reported as an exact
    FLOOR-e6 integer quotient and the alpha = 0.05 decision is the
    cross-multiplied integer comparison SSB*(n-k)*10^4 >
    crit*SSW*(k-1) — no float ever enters the verdict.

    Plan: ONE map-side-combined census to 5 group rows; everything
    after is arithmetic on a 5-row frame. The fact table is scanned
    once; at any scale this is the optimal shape (partial aggregation
    does all the work map-side)."""
    return _f_verdict(_oneway_ss(_type_moments(spark, sf_dir)), "f_e6_floor")


def _f_verdict(fin: DataFrame, floor: str) -> DataFrame:
    """The one-way F output over ``_oneway_ss``: n, k_groups, the two
    sums, the FLOOR-e6 ratio SSB(n-k)/(SSW(k-1)) as ``floor``, and the
    alpha = 0.05 verdict SSB*(n-k)*10^4 > crit*SSW*(k-1)."""
    return fin.select(
        F.col("nn").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("ssb_e6").cast("bigint").alias("ssb_e6"),
        F.col("ssw_e6").cast("bigint").alias("ssw_e6"),
        F.expr(
            "(ssb_e6 * (nn - k) * 1000000) div (ssw_e6 * (k - 1))"
        )
        .cast("bigint")
        .alias(floor),
        (
            F.col("ssb_e6") * (F.col("nn") - F.col("k")) * F.lit(10000)
            > F.lit(ANOVA_F_CRIT_E4)
            * F.col("ssw_e6")
            * (F.col("k") - F.lit(1))
        ).alias("significant"),
    )


@register(
    "q_stats_cramers_v",
    oracle=f"""
    WITH cells AS (
        SELECT event_type,
               CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS kb,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS o
        FROM events GROUP BY event_type, kb
    ),
    {_chi2_terms_sql("event_type", "kb", "n")},
    s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(term_e6) AS BIGINT) AS chi2_e6
        FROM terms
    )
    SELECT n, chi2_e6,
           CAST((CAST(chi2_e6 AS HUGEINT) * 1000) // (CAST(n AS HUGEINT) * 4)
                AS BIGINT) AS v2_e9_floor,
           CAST(chi2_e6 AS HUGEINT) * 25 > CAST(n AS HUGEINT) * 4000000
             AS strong_assoc
    FROM s
    """,
    tags=("M2", "M14", "D6"),
)
def q_stats_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAMER'S V effect size over the 5x5 event_type x (k mod 5)
    contingency — the companion EFFECT-SIZE number to q_stats_chi2's
    SIGNIFICANCE verdict (at fixture n, chi-square rejects for
    associations far too small to matter; V is what a analyst actually
    reads). V^2 = chi^2 / (n * min(r-1, c-1)) with min-dim 4.

    Exactness: the chi-square statistic is q_stats_chi2's per-cell
    sum (``_chi2_terms``); V^2 is then the
    exact FLOOR-e9 integer quotient chi2_e6 * 1000 div (n * 4), and
    the V > 0.2 'strong association' call is the cross-multiplied
    integer comparison chi2_e6 * 25 > n * 4 * 10^6. No float in any
    reported decision.

    Plan: one census to 25 cells; three windows over the 25-row frame;
    one global fold. Fact table scanned once."""
    cells = (
        t(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            (
                F.expr("CAST(from_json(props, 'k INT').k AS BIGINT)") % 5
            ).alias("kb"),
        )
        .agg(F.count("*").cast(D38).alias("o"))
    )
    s = _chi2_terms(cells, "event_type", "kb", "o").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
    )
    return s.select(
        "n",
        "chi2_e6",
        F.expr(
            "(CAST(chi2_e6 AS DECIMAL(38,0)) * 1000) "
            "div (CAST(n AS DECIMAL(38,0)) * 4)"
        )
        .cast("bigint")
        .alias("v2_e9_floor"),
        (
            F.col("chi2_e6").cast(D38) * 25
            > F.col("n").cast(D38) * 4000000
        ).alias("strong_assoc"),
    )


def _pascal_cum_rows(max_m: int = 31) -> list:
    """(m, s, K) rows with K = sum_{i<=s} C(m,i) — the exact binomial
    tail table for the sign test, bounded by the day-count domain
    (<= 31 per month), built driver-side from integer Pascal identity
    (math.comb) and broadcast. The ORACLE rebuilds the same table
    independently inside SQL from a recursive factorial CTE with
    HUGEINT exact division — two engines, two constructions, one
    integer table."""
    import math

    rows = []
    for m in range(max_m + 1):
        acc = 0
        for s in range(m + 1):
            acc += math.comb(m, s)
            rows.append((m, s, acc))
    return rows


@register(
    "q_stats_sign_bh",
    oracle="""
    WITH RECURSIVE fct(i, f) AS (
        SELECT 0, CAST(1 AS HUGEINT)
        UNION ALL
        SELECT i + 1, f * (i + 1) FROM fct WHERE i < 31
    ),
    comb AS (
        SELECT fm.i AS m, fi.i AS s,
               fm.f // (fi.f * fmi.f) AS c
        FROM fct fm
        JOIN fct fi ON fi.i <= fm.i
        JOIN fct fmi ON fmi.i = fm.i - fi.i
    ),
    kcum AS (
        SELECT m, s,
               CAST(SUM(c) OVER (PARTITION BY m ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS kc
        FROM comb
    ),
    x AS (
        SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS g,
               CAST(ts AS DATE) AS day,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    daily AS (
        SELECT g, day, CAST(COUNT(*) AS DECIMAL(38,0)) AS nd,
               CAST(SUM(cents) AS DECIMAL(38,0)) AS sd
        FROM x GROUP BY g, day
    ),
    gt AS (
        SELECT g, SUM(nd) AS ng, SUM(sd) AS sg FROM daily GROUP BY g
    ),
    signs AS (
        SELECT d.g,
               CAST(SUM(CASE WHEN d.sd * t.ng > t.sg * d.nd
                             THEN 1 ELSE 0 END) AS BIGINT) AS pos,
               CAST(SUM(CASE WHEN d.sd * t.ng < t.sg * d.nd
                             THEN 1 ELSE 0 END) AS BIGINT) AS neg
        FROM daily d JOIN gt t ON t.g = d.g GROUP BY d.g
    ),
    mm AS (
        SELECT g, pos, neg, pos + neg AS m,
               LEAST(pos, neg) AS smin
        FROM signs
    ),
    pv AS (
        SELECT mm.g, mm.pos, mm.m,
               LEAST(CAST(1 AS BIGINT) << mm.m, 2 * kcum.kc) AS p_num,
               CAST(1 AS BIGINT) << mm.m AS p_den
        FROM mm JOIN kcum ON kcum.m = mm.m AND kcum.s = mm.smin
    ),
    ranked AS (
        SELECT *,
               CAST(COUNT(*) OVER () AS BIGINT) AS gcount,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE),
                            g) AS BIGINT) AS j
        FROM pv
    ),
    verdict AS (
        SELECT *,
               MAX(CASE WHEN p_num * 20 * gcount <= p_den * j
                        THEN j ELSE 0 END) OVER () AS jmax
        FROM ranked
    )
    SELECT g, m AS m_days, pos,
           CAST(ROUND(CAST(p_num AS DOUBLE) / CAST(p_den AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS p_e6,
           j AS bh_rank,
           j <= jmax AS bh_reject
    FROM verdict ORDER BY g
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_sign_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT SIGN TEST per segment + BENJAMINI-HOCHBERG FDR control
    across the family — the multiple-testing layer every
    experimentation platform needs on top of the single-test pack
    (running 10 segment tests at alpha = 0.05 uncorrected false-flags
    ~40% of the time). Per k-segment: is the segment's daily mean
    symmetric around its own overall mean? Each day's sign is the
    cross-multiplied integer comparison s_d * N_g vs S_g * n_d (no
    division, exact ties dropped — the classical sign test); with
    m <= 31 days the two-sided p-value is the EXACT dyadic rational
    min(1, 2 * sum_{i<=smin} C(m,i)) / 2^m — numerator and
    denominator are BIGINTs from an integer Pascal table (bounded by
    the calendar, not the data; built via math.comb here and
    INDEPENDENTLY via a recursive factorial CTE with HUGEINT exact
    division in the oracle). BH then sorts the 10 exact rationals
    (the sort key p_num/2^m divides identical exact-double operand
    bits in both engines) and rejects ranks <= max{j : p_(j) <=
    alpha*j/G}, spelled as the integer comparison p_num * 20 * G <=
    2^m * j — alpha = 0.05 = 1/20 exactly, so NO float touches any
    acceptance decision, single-test or family-wise.

    Plan: one census to (segment, day) — 310 rows at any SF; the
    Pascal table is a 528-row broadcast constant; everything after the
    census is windows over a 10-row frame. Fact scanned once."""
    x = t(spark, sf_dir, "events").select(
        (
            F.expr("CAST(from_json(props, 'k INT').k AS BIGINT)") % 10
        ).alias("g"),
        F.col("ts").cast("date").alias("day"),
        cents("value").alias("cents"),
    )
    # pinned (segment, day) census — 310 rows at any SF; its two
    # consumers (per-segment totals + the sign join) each re-paid the
    # from_json fact parse unpinned (kendall rule)
    daily = pin(
        x.groupBy("g", "day")
        .agg(
            F.count("*").cast(D38).alias("nd"),
            F.sum("cents").cast(D38).alias("sd"),
        ),
        "q_stats_sign_bh.daily",
    )
    gt = daily.groupBy("g").agg(
        F.sum("nd").alias("ng"), F.sum("sd").alias("sg")
    )
    # explicit hint (the broadcast corollary of localframe.pin): this
    # 310x10 join would otherwise sort-merge
    d = daily.join(F.broadcast(gt), "g")
    signs = d.groupBy("g").agg(
        F.sum(
            F.when(F.col("sd") * F.col("ng") > F.col("sg") * F.col("nd"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("pos"),
        F.sum(
            F.when(F.col("sd") * F.col("ng") < F.col("sg") * F.col("nd"), 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("neg"),
    )
    mm = signs.select(
        "g",
        "pos",
        (F.col("pos") + F.col("neg")).alias("m"),
        F.least("pos", "neg").alias("smin"),
    )
    pascal = local_df(
        spark, _pascal_cum_rows(), "pm BIGINT, ps BIGINT, kc BIGINT"
    )
    pv = mm.join(
        F.broadcast(pascal),
        (F.col("pm") == F.col("m")) & (F.col("ps") == F.col("smin")),
    ).select(
        "g",
        "pos",
        "m",
        F.least(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m AS INT))"),
            2 * F.col("kc"),
        ).alias("p_num"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(m AS INT))").alias(
            "p_den"
        ),
    )
    wall = Window.partitionBy()
    wrank = Window.orderBy(
        F.col("p_num").cast("double") / F.col("p_den").cast("double"),
        "g",
    )
    ranked = pv.select(
        "*",
        F.count("*").over(wall).cast("bigint").alias("gcount"),
        F.row_number().over(wrank).cast("bigint").alias("j"),
    )
    verdict = ranked.withColumn(
        "jmax",
        F.max(
            F.when(
                F.col("p_num") * 20 * F.col("gcount")
                <= F.col("p_den") * F.col("j"),
                F.col("j"),
            ).otherwise(0)
        ).over(wall),
    )
    return verdict.select(
        "g",
        F.col("m").alias("m_days"),
        "pos",
        F.round(
            F.col("p_num").cast("double")
            / F.col("p_den").cast("double")
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("p_e6"),
        F.col("j").alias("bh_rank"),
        (F.col("j") <= F.col("jmax")).alias("bh_reject"),
    )


def _kruskal_groups(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(per_v, grp) shared by kruskal and dunn: the pooled value census
    per_v (v, t) and per group g its size ng and sum s2 of DOUBLED
    midranks r2 = 2*c_lt + t + 1. Both are marginals of one pinned joint
    (group, value) census: ONE fact scan instead of three (round 12 —
    the q_stats_kendall rule; dunn's before-plan held 7 fact scans)."""
    x = _type_cents(spark, sf_dir, "v")
    gv = pin(
        x.groupBy("g", "v").agg(F.count("*").cast("bigint").alias("c")),
        "kruskal.gv",
    )
    per_v = gv.groupBy("v").agg(F.sum("c").cast("bigint").alias("t"))
    wv = _running_by_v()
    rk = per_v.select(
        "v",
        (2 * (F.sum("t").over(wv) - F.col("t")) + F.col("t") + 1).alias("r2"),
    )
    grp = (
        gv.join(rk, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast(D38).alias("ng"),
            F.sum(F.col("c") * F.col("r2")).cast(D38).alias("s2"),
        )
    )
    return per_v, grp


@register(
    "q_stats_kruskal",
    oracle=f"""
    WITH {_KRUSKAL_GROUPS_SQL},
    gterm AS (
        SELECT ng, s2,
               1000000 * ((s2 * s2) // ng)
                 + CAST(ROUND(1000000.0 * CAST((s2 * s2) % ng AS DOUBLE)
                              / CAST(ng AS DOUBLE), 0) AS HUGEINT)
                 AS term_e6
        FROM grp
    ),
    tot AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS n,
               CAST(COUNT(*) AS HUGEINT) AS k,
               CAST(SUM(term_e6) AS HUGEINT) AS a4_e6,
               (SELECT CAST(SUM(t * t * t - t) AS HUGEINT) FROM per_v)
                 AS ties3
        FROM gterm
    ),
    h AS (
        SELECT n, k,
               (3 * a4_e6 - 3000000 * n * (n + 1) * (n + 1))
                 // (n * (n + 1)) AS h_e6
        FROM tot
    ),
    hh AS (
        SELECT h.n, h.k, h.h_e6,
               (h.h_e6 * (h.n * h.n * h.n - h.n))
                 // (h.n * h.n * h.n - h.n - t.ties3) AS h_tie_e6
        FROM h, tot t
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k_groups,
           CAST(h_e6 AS BIGINT) AS h_e6,
           CAST(h_tie_e6 AS BIGINT) AS h_tie_e6,
           h_tie_e6 > {CHI2_DF4_E6} AS significant
    FROM hh
    """,
    tags=("M2", "M14", "E3"),
)
def q_stats_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H — the rank-based (distribution-free) k-group
    sibling of this round's q_stats_anova, exactly as Mann-Whitney is
    the rank twin of q_ab_test: does the VALUE DISTRIBUTION differ
    across the five event types, detecting dominance shifts a mean
    test misses under skew. Pooled midranks come from the global tie
    census carried DOUBLED (2*c_lt + t + 1 — the house integer-rank
    identity), so each group's rank sum S2_g = 2*R_g is an exact
    integer; S2_g^2/n_g goes through fix_e6
    (S2^2 = 4R^2, so 12*sum(R^2/n) = 3*sum(S2^2/n) exactly);
    H = 12*sum(R^2/n)/(N(N+1)) - 3(N+1) and
    the tie correction H/C with C = 1 - sum(t^3-t)/(N^3-N) are exact
    integer FLOOR quotients of those fixings; the alpha = 0.05 verdict
    compares the corrected H'_e6 against the df=4 chi-square critical
    e6 literal — integer vs integer, no float in the decision. (A full
    cross-multiplied form exists but its operands pass 10^38 at
    bench SF; the staged e6 fixing is the documented trade.)

    Plan: one census to the pooled value domain (ranks WITHOUT ranking
    the fact table — the q_stats_spearman discipline), one census to
    the (group, value) domain, one broadcast-joinable rank lookup,
    then arithmetic on a 5-row frame. Fact scanned twice at most
    (Catalyst often reuses the exchange); rows never windowed."""
    per_v, grp = _kruskal_groups(spark, sf_dir)
    gterm = grp.select(
        "ng", fix_e6(F.col("s2") * F.col("s2"), F.col("ng")).alias("term_e6")
    )
    ties = per_v.agg(
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).cast(D38).alias("ties3")
    )
    tot = gterm.agg(
        F.sum("ng").cast(D38).alias("n"),
        F.count("*").cast(D38).alias("k"),
        F.sum("term_e6").cast(D38).alias("a4_e6"),
    ).crossJoin(F.broadcast(ties))
    h = tot.select(
        "n",
        "k",
        "ties3",
        F.expr(
            "(3 * a4_e6 - 3000000 * n * (n + 1) * (n + 1)) "
            "div (n * (n + 1))"
        )
        .cast(D38)
        .alias("h_e6"),
    )
    hh = h.select(
        "n",
        "k",
        "h_e6",
        F.expr(
            "(h_e6 * (n * n * n - n)) div (n * n * n - n - ties3)"
        )
        .cast(D38)
        .alias("h_tie_e6"),
    )
    return hh.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("h_e6").cast("bigint").alias("h_e6"),
        F.col("h_tie_e6").cast("bigint").alias("h_tie_e6"),
        (F.col("h_tie_e6") > F.lit(CHI2_DF4_E6)).alias("significant"),
    )


@register(
    "q_survival_nelson_aalen",
    oracle=f"""
    WITH {_RISK_SQL},
    na AS (
        SELECT d_min, d_i, n_i,
               CAST(ROUND(1000000.0 * CAST(d_i AS DOUBLE)
                          / CAST(n_i AS DOUBLE), 0) AS BIGINT)
                 AS step_e6,
               CAST(ROUND(1000000000.0 * CAST(d_i AS DOUBLE)
                          / CAST(n_i * n_i AS DOUBLE), 0) AS BIGINT)
                 AS var_e9
        FROM risk WHERE d_i > 0
    )
    SELECT d_min,
           CAST(d_i AS BIGINT) AS n_events,
           CAST(n_i AS BIGINT) AS n_at_risk,
           CAST(SUM(step_e6) OVER (ORDER BY d_min
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_hazard_e6,
           CAST(SUM(var_e9) OVER (ORDER BY d_min
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_var_e9
    FROM na ORDER BY d_min
    """,
    tags=("M2", "M14", "E3"),
)
def q_survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NELSON-AALEN cumulative-hazard estimator over the same
    censoring-aware time-to-first-purchase table as q_survival_km —
    the other canonical survival curve (H(t) = sum d_i/n_i; Aalen
    1978), preferred when hazard INCREMENTS are the decision quantity
    (KM's product form loses them) and the basis of log-rank testing.
    Unlike KM's log-space product, every step here is a PLAIN RATIONAL
    d_i/n_i — no logarithm anywhere — so each e6 step fixing (and the
    e9 per-step variance d_i/n_i^2, the Poisson-counting variance)
    divides identical exact-integer operand bits in both engines and
    the curve is a BIGINT cumulative sum of those fixings.

    Plan: identical to KM's — one per-user aggregate, one
    distinct-duration census, ONE descending cumulative sum for the
    at-risk counts, two ascending cumulative sums over the step
    domain. Fact scanned once; every post-census frame is bounded by
    the distinct-duration domain."""
    na = _risk_table(spark, sf_dir).filter(F.col("d_i") > 0).select(
        "d_min",
        "d_i",
        "n_i",
        F.round(
            F.lit(1000000.0)
            * F.col("d_i").cast("double")
            / F.col("n_i").cast("double"),
            0,
        )
        .cast("bigint")
        .alias("step_e6"),
        F.round(
            F.lit(1000000000.0)
            * F.col("d_i").cast("double")
            / (F.col("n_i") * F.col("n_i")).cast("double"),
            0,
        )
        .cast("bigint")
        .alias("var_e9"),
    )
    wasc = Window.orderBy("d_min").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return na.select(
        "d_min",
        F.col("d_i").cast("bigint").alias("n_events"),
        F.col("n_i").cast("bigint").alias("n_at_risk"),
        F.sum("step_e6").over(wasc).cast("bigint").alias("cum_hazard_e6"),
        F.sum("var_e9").over(wasc).cast("bigint").alias("cum_var_e9"),
    )


# Log-rank rejection at alpha = 0.05, df = 1: chi-square critical
# value 3.841459, e6-fixed (the M14 integer-verdict convention).
CHI2_DF1_E6 = 3_841_459


@register(
    "q_survival_logrank",
    oracle=f"""
    WITH {_EVENT_SEC_SQL},
    per_user AS (
        SELECT user_id,
               user_id % 2 = 0 AS grp,
               MIN(sec) AS t0,
               MIN(sec) FILTER (WHERE event_type = 'purchase') AS tp,
               MAX(sec) AS tl
        FROM e GROUP BY user_id
    ),
    dur AS (
        SELECT grp,
               (CASE WHEN tp IS NOT NULL THEN tp ELSE tl END - t0) // 60
                   AS d_min,
               tp IS NOT NULL AS observed
        FROM per_user
    ),
    steps AS (
        SELECT d_min,
               CAST(COUNT(*) FILTER (WHERE observed) AS DECIMAL(38,0))
                   AS d_i,
               CAST(COUNT(*) FILTER (WHERE observed AND grp)
                   AS DECIMAL(38,0)) AS d1_i,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS c_all,
               CAST(COUNT(*) FILTER (WHERE grp) AS DECIMAL(38,0)) AS c1
        FROM dur GROUP BY d_min
    ),
    risk AS (
        SELECT d_min, d_i, d1_i,
               SUM(c_all) OVER (ORDER BY d_min DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS n_i,
               SUM(c1) OVER (ORDER BY d_min DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS n1_i
        FROM steps
    ),
    terms AS (
        SELECT d_min, d_i, n_i, n1_i, d1_i,
               CAST(ROUND(1000000.0
                    * CAST(d_i * n1_i AS DOUBLE)
                    / CAST(n_i AS DOUBLE), 0) AS HUGEINT) AS e1_e6,
               CASE WHEN n_i > 1 THEN
                   CAST(ROUND(1000000.0
                        * CAST(d_i * n1_i * (n_i - n1_i) * (n_i - d_i)
                               AS DOUBLE)
                        / CAST(n_i * n_i * (n_i - 1) AS DOUBLE), 0)
                        AS HUGEINT)
               ELSE CAST(0 AS HUGEINT) END AS v_e6
        FROM risk WHERE d_i > 0
    ),
    s AS (
        SELECT CAST(SUM(CAST(d1_i AS HUGEINT) * 1000000 - e1_e6)
                    AS HUGEINT) AS omE_e6,
               CAST(SUM(v_e6) AS HUGEINT) AS v_e6,
               CAST(SUM(d1_i) AS BIGINT) AS o1,
               CAST(COUNT(*) AS BIGINT) AS n_steps
        FROM terms
    )
    SELECT o1, n_steps,
           CAST(omE_e6 AS BIGINT) AS om_e_e6,
           CAST(v_e6 AS BIGINT) AS var_e6,
           omE_e6 * omE_e6 > {CHI2_DF1_E6} * v_e6 * 1000000
             AS significant
    FROM s
    """,
    tags=("M2", "M14", "E3"),
)
def q_survival_logrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOG-RANK TEST (Mantel 1966) — do even- and odd-user cohorts
    convert at the same rate over time? The capstone of the survival
    trio: KM draws each curve, Nelson-Aalen gives the hazards, the
    log-rank test DECIDES — the censoring-aware comparison an A/B test
    on raw conversion counts gets wrong whenever observation windows
    differ. Per event time: observed group-1 events d1_i vs expected
    E1_i = d_i*n1_i/n_i under the null, hypergeometric variance
    d_i*n1_i*(n_i-n1_i)*(n_i-d_i) / (n_i^2*(n_i-1)); the statistic
    (O-E)^2/V ~ chi-square(1).

    Exactness: every per-step numerator/denominator is a product of
    exact BIGINT counts (largest ~n^4 < 2^53 at fixture SFs), so the
    e6 fixings divide identical operand bits in both engines; O-E and
    V accumulate as integer sums of those fixings, and the alpha=0.05
    verdict is the cross-multiplied integer comparison (O-E)^2 >
    chi2crit * V * 10^6 — no float in the decision (the M14 rule
    applied to survival comparison).

    Plan: one per-user aggregate, one distinct-duration census, TWO
    descending cumulative sums sharing one window order (at-risk
    total and at-risk group-1), one fold. Fact scanned once; every
    post-census frame bounded by the duration domain."""
    dur = _durations(spark, sf_dir).select(
        (F.col("user_id") % 2 == 0).alias("grp"), "d_min", "observed"
    )
    steps = dur.groupBy("d_min").agg(
        F.count(F.when(F.col("observed"), 1)).cast(D38).alias("d_i"),
        F.count(F.when(F.col("observed") & F.col("grp"), 1))
        .cast(D38)
        .alias("d1_i"),
        F.count("*").cast(D38).alias("c_all"),
        F.count(F.when(F.col("grp"), 1)).cast(D38).alias("c1"),
    )
    wdesc = Window.orderBy(F.desc("d_min")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = steps.select(
        "d_min",
        "d_i",
        "d1_i",
        F.sum("c_all").over(wdesc).alias("n_i"),
        F.sum("c1").over(wdesc).alias("n1_i"),
    ).filter(F.col("d_i") > 0)
    terms = risk.select(
        "d1_i",
        F.round(
            F.lit(1000000.0)
            * (F.col("d_i") * F.col("n1_i")).cast("double")
            / F.col("n_i").cast("double"),
            0,
        )
        .cast(D38)
        .alias("e1_e6"),
        F.when(
            F.col("n_i") > 1,
            F.round(
                F.lit(1000000.0)
                * (
                    F.col("d_i")
                    * F.col("n1_i")
                    * (F.col("n_i") - F.col("n1_i"))
                    * (F.col("n_i") - F.col("d_i"))
                ).cast("double")
                / (
                    F.col("n_i") * F.col("n_i") * (F.col("n_i") - 1)
                ).cast("double"),
                0,
            ),
        )
        .otherwise(0)
        .cast(D38)
        .alias("v_e6"),
    )
    s = terms.agg(
        F.sum(
            F.col("d1_i").cast(D38) * 1000000 - F.col("e1_e6")
        )
        .cast(D38)
        .alias("omE_e6"),
        F.sum("v_e6").cast(D38).alias("v_e6"),
        F.sum("d1_i").cast("bigint").alias("o1"),
        F.count("*").cast("bigint").alias("n_steps"),
    )
    return s.select(
        "o1",
        "n_steps",
        F.col("omE_e6").cast("bigint").alias("om_e_e6"),
        F.col("v_e6").cast("bigint").alias("var_e6"),
        (
            F.col("omE_e6") * F.col("omE_e6")
            > F.lit(CHI2_DF1_E6) * F.col("v_e6") * F.lit(1000000)
        ).alias("significant"),
    )


@register(
    "q_stats_mcnemar",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) < DATE '2024-01-16'
                        THEN 1 ELSE 0 END) AS a1,
               MAX(CASE WHEN event_type = 'purchase'
                        AND CAST(ts AS DATE) >= DATE '2024-01-16'
                        THEN 1 ELSE 0 END) AS a2
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN a1 = 1 AND a2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(SUM(CASE WHEN a1 = 0 AND a2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c
        FROM u
    )
    SELECT n_users, b, c,
           CAST(CASE WHEN b + c > 0
                THEN ((b - c) * (b - c) * 1000000) // (b + c)
                ELSE 0 END AS BIGINT) AS chi2_e6_floor,
           b + c > 0 AND (b - c) * (b - c) * 1000000
             > {CHI2_DF1_E6} * (b + c) AS significant
    FROM s
    """,
    tags=("M2", "M14", "D3"),
)
def q_stats_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST (1947) — did the per-user purchase propensity
    CHANGE between the first and second half of the month? The PAIRED
    sibling of the two-sample battery: each user is their own control
    (converted-in-half-1 yes/no vs converted-in-half-2 yes/no), so
    between-user variance cancels and only the DISCORDANT pairs b
    (active then lapsed) and c (lapsed then activated) carry
    information — chi2 = (b-c)^2/(b+c) against df=1. This is the test
    behind every before/after product change readout on the same
    cohort.

    Exactness: b and c are exact BIGINT counts from one census; the
    statistic is reported as the exact integer FLOOR quotient
    (b-c)^2*10^6 div (b+c) and the alpha = 0.05 verdict is the
    cross-multiplied comparison (b-c)^2*10^6 > chi2crit_e6*(b+c) — all
    integers, the degenerate b+c = 0 case stated (not significant).

    Plan: one per-user conditional aggregate (two MAX-CASE branches of
    the same pass), one 1-row fold. Fact scanned once, no join."""
    u = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts").cast("date") < F.lit("2024-01-16")),
                1,
            ).otherwise(0)
        ).alias("a1"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts").cast("date") >= F.lit("2024-01-16")),
                1,
            ).otherwise(0)
        ).alias("a2"),
    )
    s = u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.when((F.col("a1") == 1) & (F.col("a2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("a1") == 0) & (F.col("a2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    d = (F.col("b") - F.col("c")) * (F.col("b") - F.col("c"))
    return s.select(
        "n_users",
        "b",
        "c",
        F.when(
            F.col("b") + F.col("c") > 0,
            F.expr("((b - c) * (b - c) * 1000000) div (b + c)"),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("chi2_e6_floor"),
        (
            (F.col("b") + F.col("c") > 0)
            & (
                d * 1000000
                > F.lit(CHI2_DF1_E6) * (F.col("b") + F.col("c"))
            )
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# Round-11 additions: the blocked / ordered-alternative corner of the
# classical battery — Cochran's Q (k correlated binary treatments),
# Jonckheere-Terpstra (ordered trend across groups), Friedman (blocked
# ranks), Ljung-Box (autocorrelation portmanteau). Same M14 discipline:
# one census to a domain-bounded frame, exact integer statistics,
# cross-multiplied or staged-e6 verdicts, a pure-Python pytest twin each.

# Cochran indicator window: the per-user event-type incidence matrix is
# nearly all-ones over the full month (67 events/user at sf0.01), which
# degenerates Q (all-responding blocks carry no information), so the
# incidence question is asked over the SPARSE first two days.
COCHRAN_CUTOFF = "2024-01-03"
COCHRAN_K = 5  # the event-type treatment domain is fixed by the fixture


@register(
    "q_stats_cochran_q",
    oracle=f"""
    WITH x AS (
        SELECT DISTINCT user_id, event_type
        FROM events WHERE CAST(ts AS DATE) < DATE '{COCHRAN_CUTOFF}'
    ),
    rows_ AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r FROM x GROUP BY user_id
    ),
    cols AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY event_type
    ),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS n_blocks,
               (SELECT CAST(SUM(r) AS BIGINT) FROM rows_) AS n_total,
               (SELECT CAST(SUM(r * r) AS BIGINT) FROM rows_) AS sum_row_sq,
               (SELECT CAST(SUM(c * c) AS BIGINT) FROM cols) AS sum_col_sq
    )
    SELECT n_blocks, n_total, sum_row_sq, sum_col_sq,
           CAST({COCHRAN_K - 1} * ({COCHRAN_K} * sum_col_sq
                                    - n_total * n_total) AS BIGINT) AS q_num,
           CAST({COCHRAN_K} * n_total - sum_row_sq AS BIGINT) AS q_den,
           CAST(CASE WHEN {COCHRAN_K} * n_total - sum_row_sq > 0
                THEN ({COCHRAN_K - 1} * ({COCHRAN_K} * sum_col_sq
                       - n_total * n_total) * 1000000)
                     // ({COCHRAN_K} * n_total - sum_row_sq)
                ELSE 0 END AS BIGINT) AS q_e6_floor,
           {COCHRAN_K} * n_total - sum_row_sq > 0
             AND {COCHRAN_K - 1} * ({COCHRAN_K} * sum_col_sq
                                    - n_total * n_total) * 1000000
               > {CHI2_DF4_E6} * ({COCHRAN_K} * n_total - sum_row_sq)
             AS significant
    FROM s
    """,
    tags=("M2", "M14", "D3"),
)
def q_stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN'S Q (1950) — the k-treatment generalization of McNemar:
    do the FIVE event types have the same per-user incidence rate in
    the sparse opening window, when every user is their own block?
    This is the within-subjects sibling of q_stats_chi2's independence
    test: between-user propensity differences cancel, exactly as the
    paired design cancels them in q_stats_mcnemar (k=2 reduces to it).

    The algebraic form Q = (k-1)(k*sum(C_j^2) - N^2)/(k*N - sum(R_i^2))
    is ALL INTEGER (C_j = treatment totals, R_i = block totals,
    N = sum R_i): the statistic ships as the exact floor quotient
    q_e6_floor plus its (q_num, q_den) rational pair, and the
    alpha = 0.05 / df = k-1 = 4 verdict is the cross-multiplied
    integer comparison q_num * 10^6 > chi2crit_e6 * q_den — no float
    anywhere. All-zero and all-k blocks carry no information and
    cancel identically in both engines (they only shift N and the row
    census together). Operand bound: q_num <= 4k * n_users^2 * 10^6
    stays under 2^63 through sf 100.

    Plan: one DISTINCT census to the (user, type) incidence domain
    (map-side combinable), then two tiny aggregates (per-user, per-
    type) folded into a 1-row frame. Fact scanned once."""
    x = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").cast("date") < F.lit(COCHRAN_CUTOFF))
        .select("user_id", "event_type")
        .distinct()
    )
    rows_ = x.groupBy("user_id").agg(F.count("*").cast("bigint").alias("r"))
    cols = x.groupBy("event_type").agg(F.count("*").cast("bigint").alias("c"))
    s = rows_.agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum("r").cast("bigint").alias("n_total"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sum_row_sq"),
    ).crossJoin(
        cols.agg(
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sum_col_sq")
        )
    )
    k = F.lit(COCHRAN_K)
    num = (k - 1) * (k * F.col("sum_col_sq") - F.col("n_total") * F.col("n_total"))
    den = k * F.col("n_total") - F.col("sum_row_sq")
    return s.select(
        "n_blocks",
        "n_total",
        "sum_row_sq",
        "sum_col_sq",
        *_chi2_df4_q(
            num,
            den,
            f"({COCHRAN_K - 1} * ({COCHRAN_K} * sum_col_sq"
            f" - n_total * n_total) * 1000000)"
            f" div ({COCHRAN_K} * n_total - sum_row_sq)",
        ),
    )


@register(
    "q_stats_jonckheere",
    oracle="""
    WITH x AS (
        SELECT o_orderpriority AS g,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
        FROM orders
    ),
    gv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY g, v
    ),
    grid AS (
        SELECT vals.v, grps.g, COALESCE(gv.c, 0) AS c
        FROM (SELECT DISTINCT v FROM x) vals
        CROSS JOIN (SELECT DISTINCT g FROM x) grps
        LEFT JOIN gv ON gv.v = vals.v AND gv.g = grps.g
    ),
    cum AS (
        SELECT v, g, c,
               SUM(c) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                 AS cum_lt
        FROM grid
    ),
    jt AS (
        SELECT CAST(SUM(b.c * (2 * a.cum_lt + a.c)) AS BIGINT) AS jt2
        FROM gv b JOIN cum a ON a.v = b.v AND a.g < b.g
    ),
    ng AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g FROM x GROUP BY g
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(n_g * n_g) AS BIGINT) AS sum_ng_sq,
               CAST(SUM(n_g * n_g * (2 * n_g + 3)) AS BIGINT) AS sum_ng_var
        FROM ng
    ),
    s AS (
        SELECT jt.jt2, tot.n,
               (tot.n * tot.n - tot.sum_ng_sq) // 2 AS e2,
               tot.n * tot.n * (2 * tot.n + 3) - tot.sum_ng_var AS var_num
        FROM jt, tot
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(jt2 AS BIGINT) AS jt2,
           CAST(e2 AS BIGINT) AS e2,
           CAST(var_num AS BIGINT) AS var_num,
           CAST((CAST(jt2 - e2 AS HUGEINT) * (jt2 - e2) * 18000000)
                // var_num AS BIGINT) AS z2_e6_floor,
           jt2 > e2 AS increasing,
           CAST(jt2 - e2 AS HUGEINT) * (jt2 - e2) * 180000
             > CAST(38416 AS HUGEINT) * var_num AS significant
    FROM s
    """,
    tags=("M2", "M14", "E3"),
)
def q_stats_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JONCKHEERE-TERPSTRA (1954) — the ORDERED-alternative k-group
    test: is order value stochastically MONOTONE in priority class
    (1-URGENT < ... < 5-LOW)? Kruskal-Wallis asks "any difference";
    JT spends its power on the ordering and is the standard dose-
    response / severity-trend test. JT = sum over ordered group pairs
    a<b of the Mann-Whitney count #(x_a < y_b) + 1/2 #(x_a = y_b),
    carried DOUBLED (jt2) so ties stay integer — the q_stats_
    mann_whitney u1_x2 convention extended across the k*(k-1)/2 pairs.

    The pair count NEVER enumerates pairs: one census to the (group,
    value) domain, a dense (value-domain x 5 groups) grid with
    per-group prefix sums (the q_stats_kendall grid discipline), then
    each observed (g_b, v) cell contributes c_b * (2*cum_lt_a + c_a)
    against every lower-ordered group's cell at the same v — a keyed
    equi-join on v bounded by 5x the value domain, row pairs O(n^2)/5
    by construction never materialized. Null moments are exact
    integers (E2 = (n^2 - sum n_g^2)/2 — always even since it equals
    sum_{a<b} n_a*n_b * 2/2; var_num = n^2(2n+3) - sum n_g^2(2n_g+3),
    Var = var_num/72, the no-ties normal approximation — the tie
    correction is omitted and STATED, cents granularity keeps tie mass
    negligible and the omission is conservative here since ties shrink
    the true variance). Verdict cross-multiplied in HUGEINT/DECIMAL38:
    (jt2-e2)^2 * 18 * 10^4 > z2crit_e4 * var_num (z 1.96 two-sided,
    the MW_Z2_E4 literal) — operands peak ~10^27 at sf1, inside the
    38-digit headroom through sf100.

    Plan: fact scanned once to the census; the grid build is a 5-row
    broadcast cross (domain-bounded, allowlisted); two windows over
    the grid; one keyed join; 1-row fold."""
    x = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        cents("o_totalprice").alias("v"),
    )
    # Census pinned once, marginals derived from it (the q_stats_kendall
    # round-12 rule): unpinned, the fact scan re-ran per consumer (the
    # before-plan held 5 orders scans — vals/grps/tot each re-scanned),
    # and Catalyst's per-consumer subtree specialization defeats
    # exchange reuse. The census is domain-bounded (5 x |v-domain|).
    gv = pin(
        x.groupBy("g", "v").agg(
            F.count("*").cast("bigint").alias("c")
        ),
        "q_stats_jonckheere.gv",
    )
    vals = gv.select("v").distinct()
    grps = gv.select("g").distinct()
    grid = (
        vals.crossJoin(F.broadcast(grps))
        .join(gv, ["g", "v"], "left")
        .select("v", "g", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "v",
        F.col("g").alias("g_a"),
        F.col("c").alias("c_a"),
        (F.sum("c").over(wcum) - F.col("c")).alias("cum_lt"),
    )
    jt = (
        gv.select(F.col("g").alias("g_b"), "v", F.col("c").alias("c_b"))
        .join(cum, "v")
        .filter(F.col("g_a") < F.col("g_b"))
        .agg(
            F.sum(
                F.col("c_b") * (F.lit(2) * F.col("cum_lt") + F.col("c_a"))
            )
            .cast("bigint")
            .alias("jt2")
        )
    )
    tot = (
        gv.groupBy("g")
        .agg(F.sum("c").cast("bigint").alias("n_g"))
        .agg(
            F.sum("n_g").cast("bigint").alias("n"),
            F.sum(F.col("n_g") * F.col("n_g")).cast("bigint").alias("sum_ng_sq"),
            F.sum(
                F.col("n_g") * F.col("n_g") * (2 * F.col("n_g") + 3)
            )
            .cast("bigint")
            .alias("sum_ng_var"),
        )
    )
    s = jt.crossJoin(tot).select(
        "n",
        "jt2",
        F.expr("CAST((n * n - sum_ng_sq) div 2 AS BIGINT)").alias("e2"),
        (
            F.col("n") * F.col("n") * (2 * F.col("n") + 3)
            - F.col("sum_ng_var")
        )
        .cast("bigint")
        .alias("var_num"),
    )
    d = (F.col("jt2") - F.col("e2")).cast(D38)
    return s.withColumn("dd", d).select(
        "n",
        "jt2",
        "e2",
        "var_num",
        F.expr(
            "CAST((dd * dd * 18000000)"
            " div CAST(var_num AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("z2_e6_floor"),
        (F.col("jt2") > F.col("e2")).alias("increasing"),
        (
            d * d * F.lit(180000)
            > F.lit(MW_Z2_E4).cast(D38) * F.col("var_num").cast(D38)
        ).alias("significant"),
    )


FRIEDMAN_K = 5  # event-type treatment domain; blocks = calendar days
# The Friedman blocks: per (day, type) cent sums on the days every type
# occurs (oracle-only).
_FRIEDMAN_CELLS_SQL = f"""cell AS (
        SELECT CAST(ts AS DATE) AS d, event_type AS g,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY 1, 2
    ),
    complete AS (
        SELECT d FROM cell GROUP BY d HAVING COUNT(*) = {FRIEDMAN_K}
    ),
    c2 AS (SELECT cell.* FROM cell JOIN complete USING (d))"""

# The within-block doubled midranks s (g, r2) and per-type rank sums
# byg (g, r2_sum): the oracle twin of ``_friedman_ranks``.
_FRIEDMAN_RANKS_SQL = f"""{_FRIEDMAN_CELLS_SQL},
    tie AS (SELECT d, v, CAST(COUNT(*) AS BIGINT) AS tcnt
            FROM c2 GROUP BY d, v),
    rk AS (
        SELECT d, v,
               2 * (SUM(tcnt) OVER (PARTITION BY d ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tcnt)
                 + tcnt + 1 AS r2
        FROM tie
    ),
    s AS (SELECT c2.g, rk.r2 FROM c2
          JOIN rk ON rk.d = c2.d AND rk.v = c2.v),
    byg AS (SELECT g, CAST(SUM(r2) AS BIGINT) AS r2_sum FROM s GROUP BY g)"""
# The 1-row (n, a2, devsq) q: the oracle twin of ``_friedman_q``.
_FRIEDMAN_Q_SQL = f"""{_FRIEDMAN_RANKS_SQL},
    tot AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM complete) AS n,
               (SELECT CAST(SUM(r2 * r2) AS BIGINT) FROM s) AS a2
    ),
    q AS (
        SELECT tot.n, tot.a2,
               (SELECT CAST(SUM((r2_sum - tot.n * {FRIEDMAN_K + 1})
                            * (r2_sum - tot.n * {FRIEDMAN_K + 1}))
                       AS BIGINT) FROM byg) AS devsq
        FROM tot
    )"""


def _friedman_blocks(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The blocked frame the Friedman family (friedman, page_trend,
    kendall_w, cronbach_alpha) shares: ``cell`` is the pinned (day d,
    event type g) census of daily cent-sums v, ``complete`` the days
    with all FRIEDMAN_K types observed. The <= 31xK census feeds every
    downstream frame (complete-block filter, tie census, rank join);
    unpinned, each consumer re-ran the fact scan (the q_stats_kendall
    subtree-specialization finding)."""
    cell = pin(_type_day_sums(spark, sf_dir), "friedman.cell")
    complete = (
        cell.groupBy("d").agg(F.count("*").alias("kk"))
        .filter(F.col("kk") == FRIEDMAN_K)
        .select("d")
    )
    return cell, complete


def _friedman_ranks(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(complete, s, byg) over the complete blocks: ``s`` carries each
    cell's DOUBLED within-block midrank r2 = 2*c_lt + t + 1 (the
    q_stats_kruskal tie identity, per block) by type g, ``byg`` the
    per-type rank sums r2_sum."""
    cell, complete = _friedman_blocks(spark, sf_dir)
    c2 = cell.join(complete, "d")
    tie = c2.groupBy("d", "v").agg(F.count("*").cast("bigint").alias("tcnt"))
    wcum = (
        Window.partitionBy("d")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rk = tie.select(
        "d",
        "v",
        (
            2 * (F.sum("tcnt").over(wcum) - F.col("tcnt"))
            + F.col("tcnt")
            + 1
        ).alias("r2"),
    )
    s = c2.join(rk, ["d", "v"]).select("g", "r2")
    byg = s.groupBy("g").agg(F.sum("r2").cast("bigint").alias("r2_sum"))
    return complete, s, byg


def _friedman_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-row (n, a2, devsq): block count, sum of squared doubled ranks
    and sum_j (R2_j - n(k+1))^2 — the integer parts of the
    tie-corrected Friedman Q that friedman and kendall_w report."""
    complete, s, byg = _friedman_ranks(spark, sf_dir)
    tot = s.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("a2")
    ).crossJoin(complete.agg(F.count("*").cast("bigint").alias("n")))
    return byg.crossJoin(F.broadcast(tot)).agg(
        F.first("n").alias("n"),
        F.first("a2").alias("a2"),
        F.sum(
            (F.col("r2_sum") - F.col("n") * F.lit(FRIEDMAN_K + 1))
            * (F.col("r2_sum") - F.col("n") * F.lit(FRIEDMAN_K + 1))
        )
        .cast("bigint")
        .alias("devsq"),
    )


@register(
    "q_stats_friedman",
    oracle=f"""
    WITH {_FRIEDMAN_Q_SQL}
    SELECT n AS n_blocks,
           CAST({FRIEDMAN_K} AS BIGINT) AS k,
           CAST({FRIEDMAN_K - 1} * devsq AS BIGINT) AS q_num,
           CAST(a2 - n * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2} AS BIGINT)
             AS q_den,
           CAST(CASE WHEN a2 - n * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2} > 0
                THEN ({FRIEDMAN_K - 1} * devsq * 1000000)
                     // (a2 - n * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2})
                ELSE 0 END AS BIGINT) AS q_e6_floor,
           a2 - n * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2} > 0
             AND {FRIEDMAN_K - 1} * devsq * 1000000
               > {CHI2_DF4_E6}
                 * (a2 - n * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2})
             AS significant
    FROM q
    """,
    tags=("M2", "M14", "E3"),
)
def q_stats_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FRIEDMAN'S TEST (1937) — the blocked-design rank test: across
    the month's days (blocks), do the five event types (treatments)
    carry systematically different daily revenue? The repeated-
    measures sibling of q_stats_kruskal exactly as McNemar is of the
    chi-square: day-level shocks (weekends, launches) hit all five
    types together and CANCEL inside each block's ranking, so the test
    sees only the within-day ordering — the reason Friedman is the
    standard k-system comparison on shared workloads.

    Blocks are calendar days with a COMPLETE treatment set (all 5
    types observed — incomplete blocks can't be ranked 1..k and are
    excluded identically in both engines). Within each block the 5
    daily cent-sums get DOUBLED midranks via the house tie identity
    r2 = 2*c_lt + t + 1 (the q_stats_kruskal census trick, applied per
    block); with s = 2r the tie-corrected statistic
    Q = (k-1) * sum_j (R_j - n(k+1)/2)^2 / (A - nk(k+1)^2/4)
    becomes the ALL-INTEGER
    Q = (k-1) * sum_j (R2_j - n(k+1))^2 / (A2 - nk(k+1)^2),
    shipped as (q_num, q_den) plus the exact floor fixing, verdict
    cross-multiplied against the df = k-1 = 4 chi-square critical —
    no float anywhere, fully-tied-degenerate den = 0 stated (not
    significant). Operands are bounded by ranks <= 2k and n <= 31:
    trivially inside BIGINT at every sf.

    Plan: one (day, type) census off a single fact scan; everything
    after is windows and folds over a <= 31x5 frame — block count
    grows with the CALENDAR, not the row count, so a 100x scale-up
    changes only the census sums."""
    q = _friedman_q(spark, sf_dir)
    kk1sq = FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2
    num = F.lit(FRIEDMAN_K - 1) * F.col("devsq")
    den = F.col("a2") - F.col("n") * F.lit(kk1sq)
    return q.select(
        F.col("n").alias("n_blocks"),
        F.lit(FRIEDMAN_K).cast("bigint").alias("k"),
        *_chi2_df4_q(
            num, den, f"({FRIEDMAN_K - 1} * devsq * 1000000) div (a2 - n * {kk1sq})"
        ),
    )


LB_H = 7  # portmanteau lag budget
CHI2_DF7_E6 = 14_067_140  # chi-square 0.95 critical, df = 7, e6


@register(
    "q_ts_ljung_box",
    oracle=f"""
    WITH day AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, x FROM day
    ),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM idx
    ),
    y AS (
        SELECT i, CAST(tot.n * idx.x - tot.s AS HUGEINT) AS y
        FROM idx, tot
    ),
    c0 AS (SELECT SUM(y * y) AS c0 FROM y),
    ck AS (
        SELECT k.k, SUM(a.y * b.y) AS c_k
        FROM range(1, {LB_H} + 1) k(k)
        JOIN y a ON TRUE
        JOIN y b ON b.i = a.i + k.k
        GROUP BY k.k
    ),
    lag_stats AS (
        SELECT ck.k AS lag,
               CASE WHEN ck.c_k < 0 THEN -1 ELSE 1 END AS r_sign,
               CAST((ABS(ck.c_k) * 1000000) // c0.c0 AS BIGINT) AS rabs_e6
        FROM ck, c0
    ),
    terms AS (
        SELECT lag, r_sign, rabs_e6,
               CAST((rabs_e6 * rabs_e6) // ((SELECT n FROM tot) - lag)
                    AS BIGINT) AS term_e12
        FROM lag_stats
    ),
    lb AS (
        SELECT CAST((tot.n * (tot.n + 2) * (SELECT SUM(term_e12) FROM terms))
                    // 1000000 AS BIGINT) AS lb_e6,
               tot.n AS n
        FROM tot
    )
    SELECT t.lag, t.r_sign, t.rabs_e6, t.term_e12,
           lb.n, lb.lb_e6,
           lb.lb_e6 > {CHI2_DF7_E6} AS significant
    FROM terms t, lb
    ORDER BY t.lag
    """,
    tags=("M2", "M14", "D10"),
)
def q_ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LJUNG-BOX PORTMANTEAU (1978) — is the daily-revenue series
    white noise, or is there autocorrelation structure left at lags
    1..7? The residual-diagnostic that closes the D10 forecasting
    loop: q_timeseries_holt fits, q_ts_backtest_mase scores, Ljung-Box
    tests whether anything forecastable REMAINS. LB = n(n+2) *
    sum_k r_k^2/(n-k) against chi-square df = h.

    Exactness: mean-centering is made integer by scaling through n
    (y_t = n*x_t - S, so C'_k = sum y_t y_(t+k) = n^2 * C_k and the
    ratio r_k = C'_k/C'_0 is unchanged — the house multiply-through
    lemma); products are HUGEINT/DECIMAL(38,0) (y^2 passes 2^63 from
    sf0.1). r_k is fixed as rabs_e6 = (|C'_k|*10^6) div C'_0 with the
    sign carried separately — ABS before the floor division because
    Spark div truncates while DuckDB // floors and they agree only on
    non-negatives (the house sign-split rule); r^2 needs only rabs.
    The staged fixing (r -> e6, r^2 -> e12, per-lag floor by (n-k),
    final div 10^6) is the q_stats_kruskal documented trade: each
    stage is an exact integer op performed identically in both
    engines. Verdict: lb_e6 > the df=7 chi-square critical e6 literal.

    Output: one row per lag (its signed autocorrelation fixing and LB
    term) with the portmanteau verdict denormalized on — the shape a
    residual-diagnostic panel actually renders.

    Plan: one fact scan to the 31-row day census; everything after is
    arithmetic on <= 31-row frames (the lag self-join is 31x7 rows).
    Block count grows with the calendar, not the row count."""
    day = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("x")
        )
    )
    # Pinned (round 12): the day census feeds tot, y, and through y
    # every lag frame — unpinned, each consumer re-ran the fact scan
    # (15 scans in the before-plan; the docstring's "one fact scan"
    # only became true with the pin, since Catalyst specializes each
    # subtree copy — the q_stats_kendall finding).
    idx = pin(
        day.select(
            F.row_number().over(Window.orderBy("d")).alias("i"), "x"
        ),
        "q_ts_ljung_box.idx",
    )
    tot = idx.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
    )
    y = idx.crossJoin(F.broadcast(tot)).select(
        "i",
        (F.col("n") * F.col("x") - F.col("s")).cast(D38).alias("y"),
        "n",
    )
    c0 = y.agg(F.sum(F.col("y") * F.col("y")).alias("c0"))
    lags = spark.range(1, LB_H + 1).select(F.col("id").cast("int").alias("lag"))
    b = y.select(F.col("i").alias("ib"), F.col("y").alias("yb"))
    ck = (
        y.crossJoin(F.broadcast(lags))
        .join(b, F.col("ib") == F.col("i") + F.col("lag"))
        .groupBy("lag")
        .agg(F.sum(F.col("y") * F.col("yb")).alias("c_k"))
    )
    lag_stats = ck.crossJoin(F.broadcast(c0)).select(
        "lag",
        F.when(F.col("c_k") < 0, -1).otherwise(1).alias("r_sign"),
        F.expr("CAST((ABS(c_k) * 1000000) div c0 AS BIGINT)").alias(
            "rabs_e6"
        ),
    )
    terms = lag_stats.crossJoin(F.broadcast(tot)).select(
        "lag",
        "r_sign",
        "rabs_e6",
        F.expr("CAST((rabs_e6 * rabs_e6) div (n - lag) AS BIGINT)").alias(
            "term_e12"
        ),
    )
    lb = terms.agg(F.sum("term_e12").alias("sum_terms")).crossJoin(
        F.broadcast(tot)
    ).select(
        F.expr("CAST((n * (n + 2) * sum_terms) div 1000000 AS BIGINT)").alias(
            "lb_e6"
        ),
        "n",
    )
    return (
        terms.crossJoin(F.broadcast(lb))
        .select(
            "lag",
            "r_sign",
            "rabs_e6",
            "term_e12",
            "n",
            "lb_e6",
            (F.col("lb_e6") > F.lit(CHI2_DF7_E6)).alias("significant"),
        )
    )


@register(
    "q_stats_brown_forsythe",
    oracle=f"""
    WITH {_events_x("cents")},
    gv AS (
        SELECT g, cents, CAST(COUNT(*) AS BIGINT) AS c
        FROM x GROUP BY g, cents
    ),
    cum AS (
        SELECT g, cents, c,
               SUM(c) OVER (PARTITION BY g ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cum,
               SUM(c) OVER (PARTITION BY g) AS n_g
        FROM gv
    ),
    med AS (
        SELECT g, MIN(cents) AS med
        FROM cum WHERE cum >= (n_g + 1) // 2 GROUP BY g
    ),
    z AS (
        SELECT gv.g, ABS(gv.cents - med.med) AS z, gv.c
        FROM gv JOIN med ON med.g = gv.g
    ),
    grp AS (
        SELECT g, CAST(SUM(c) AS HUGEINT) AS n,
               CAST(SUM(c * z) AS HUGEINT) AS s,
               CAST(SUM(c * z * z) AS HUGEINT) AS q
        FROM z GROUP BY g
    ),
    {_oneway_ss_sql("n, s, q")}
    SELECT CAST(nn AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k_groups,
           CAST(ssb_e6 AS BIGINT) AS ssb_e6,
           CAST(ssw_e6 AS BIGINT) AS ssw_e6,
           CAST((ssb_e6 * (nn - k) * 1000000)
                // (ssw_e6 * (k - 1)) AS BIGINT) AS w_e6_floor,
           ssb_e6 * (nn - k) * 10000
             > {ANOVA_F_CRIT_E4} * ssw_e6 * (k - 1) AS significant
    FROM fin
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BROWN-FORSYTHE (1974) — the variance-homogeneity test you run
    BEFORE trusting q_stats_anova: are the five event types' value
    SPREADS equal? It is Levene's test with the group MEDIAN as the
    robust center: transform each observation to z = |cents - med_g|,
    then run one-way ANOVA on the z's — a significant W means the
    spreads differ and the pooled-variance assumption behind ANOVA/
    q_ab_test is broken (the diagnostic layered over the decision
    battery, exactly as q_ts_ljung_box is over the forecasters).

    Exactness: the group median comes from the (group, value) census
    with a cumulative window — the LOWER median (min value whose
    cumulative count reaches (n+1) div 2), a deterministic convention
    both engines share; z is then an exact INTEGER, so q_stats_anova's
    chain applies verbatim to weighted group sums (n, s, q) from
    census rows: ``_oneway_ss`` for SSB/SSW, W as a floor-e6 quotient
    and the alpha = 0.05 / df = (4, inf) verdict cross-multiplied.

    Plan: ONE census to the (group, value-domain) frame serves the
    median, the z transform, and all three moment sums — the fact
    table is scanned once and never re-touched; everything after is
    windows and folds over domain-bounded frames."""
    gv = (
        _type_cents(spark, sf_dir, "cents")
        .groupBy("g", "cents")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    med = _lower_median(gv, "cents", "g")
    z = gv.join(med, "g").select(
        "g", F.abs(F.col("cents") - F.col("med")).alias("z"), "c"
    )
    grp = z.groupBy("g").agg(
        F.sum("c").cast(D38).alias("n"),
        F.sum(F.col("c") * F.col("z")).cast(D38).alias("s"),
        F.sum(F.col("c") * F.col("z") * F.col("z")).cast(D38).alias("q"),
    )
    return _f_verdict(_oneway_ss(grp), "w_e6_floor")


# F(0.95; 1, 26) = t(0.975; 26)^2 = 4.2252, e4-fixed. df2 = 26 is
# pinned by construction (first 30 day-rows -> m = 29 lagged obs, 3
# full-model parameters), not assumed from the calendar.
GRANGER_F_CRIT_E4 = 42252
_GRANGER_FIX = """CASE WHEN {d} = 0 THEN 0 ELSE
    (CASE WHEN ({n} < 0) <> ({d} < 0) THEN -1 ELSE 1 END)
    * ((ABS({n}) * 1000000) {div} ABS({d})) END"""


def _granger_sql(div: str) -> str:
    """The shared Granger CTE body; ``div`` is the engine's integer
    floor/trunc division spelling ('//' DuckDB, 'div' Spark) — safe
    here because every quotient is sign-split to |num| div |den|."""
    fix = lambda n, d: _GRANGER_FIX.format(n=n, d=d, div=div)
    return f"""
    WITH day AS (
        SELECT CAST(ts AS DATE) AS d,
               COALESCE(
                 SUM(CASE WHEN event_type = 'purchase'
                     THEN CAST(ROUND(value * 100, 0) AS BIGINT) END)
                 {div} NULLIF(SUM(CASE WHEN event_type = 'purchase'
                                  THEN 1 ELSE 0 END), 0), 0) AS pm,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS vc
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, pm, vc FROM day
    ),
    lagf AS (
        SELECT x, xl, yl FROM (
            SELECT CAST(pm AS {{big}}) AS x,
                   CAST(LAG(pm) OVER (ORDER BY i) AS {{big}}) AS xl,
                   CAST(LAG(vc) OVER (ORDER BY i) AS {{big}}) AS yl
            FROM idx WHERE i <= 30
        ) lagged WHERE xl IS NOT NULL
    ),
    s AS (
        SELECT CAST(COUNT(*) AS {{big}}) AS m,
               CAST(SUM(x) AS {{big}}) AS sx,
               CAST(SUM(xl) AS {{big}}) AS sxl,
               CAST(SUM(yl) AS {{big}}) AS syl,
               CAST(SUM(xl * xl) AS {{big}}) AS sxlxl,
               CAST(SUM(yl * yl) AS {{big}}) AS sylyl,
               CAST(SUM(xl * yl) AS {{big}}) AS sxlyl,
               CAST(SUM(xl * x) AS {{big}}) AS sxlx,
               CAST(SUM(yl * x) AS {{big}}) AS sylx
        FROM lagf
    ),
    dets AS (
        SELECT m,
               m * (sxlxl * sylyl - sxlyl * sxlyl)
                 - sxl * (sxl * sylyl - sxlyl * syl)
                 + syl * (sxl * sxlyl - sxlxl * syl) AS det,
               sx * (sxlxl * sylyl - sxlyl * sxlyl)
                 - sxl * (sxlx * sylyl - sxlyl * sylx)
                 + syl * (sxlx * sxlyl - sxlxl * sylx) AS det_a,
               m * (sxlx * sylyl - sxlyl * sylx)
                 - sx * (sxl * sylyl - sxlyl * syl)
                 + syl * (sxl * sylx - sxlx * syl) AS det_b,
               m * (sxlxl * sylx - sxlx * sxlyl)
                 - sxl * (sxl * sylx - sxlx * syl)
                 + sx * (sxl * sxlyl - sxlxl * syl) AS det_c,
               m * sxlxl - sxl * sxl AS det_r,
               sxlxl * sx - sxl * sxlx AS ar_num,
               m * sxlx - sxl * sx AS br_num
        FROM s
    ),
    coeffs AS (
        SELECT m,
               {fix('det_a', 'det')} AS a_e6,
               {fix('det_b', 'det')} AS b_e6,
               {fix('det_c', 'det')} AS c_e6,
               {fix('ar_num', 'det_r')} AS ar_e6,
               {fix('br_num', 'det_r')} AS br_e6
        FROM dets
    ),
    sse AS (
        SELECT ANY_VALUE(c.m) AS m,
               ANY_VALUE(c.b_e6) AS b_e6, ANY_VALUE(c.c_e6) AS c_e6,
               ANY_VALUE(c.br_e6) AS br_e6,
               CAST(SUM((l.x * 1000000 - (c.a_e6 + c.b_e6 * l.xl
                         + c.c_e6 * l.yl))
                      * (l.x * 1000000 - (c.a_e6 + c.b_e6 * l.xl
                         + c.c_e6 * l.yl))) AS {{big}}) AS ssef_e12,
               CAST(SUM((l.x * 1000000 - (c.ar_e6 + c.br_e6 * l.xl))
                      * (l.x * 1000000 - (c.ar_e6 + c.br_e6 * l.xl)))
                    AS {{big}}) AS sser_e12
        FROM lagf l CROSS JOIN coeffs c
    )
    SELECT CAST(m AS BIGINT) AS m,
           CAST(b_e6 AS BIGINT) AS b_e6,
           CAST(c_e6 AS BIGINT) AS c_e6,
           CAST(br_e6 AS BIGINT) AS br_e6,
           CAST(sser_e12 {div} 1000000 AS BIGINT) AS sser_e6,
           CAST(ssef_e12 {div} 1000000 AS BIGINT) AS ssef_e6,
           CAST(CASE WHEN ssef_e12 > 0 THEN
               (GREATEST(sser_e12 - ssef_e12, 0) * (m - 3) * 1000000)
                 {div} ssef_e12 ELSE 0 END AS BIGINT) AS f_e6_floor,
           ssef_e12 > 0
             AND GREATEST(sser_e12 - ssef_e12, 0) * (m - 3) * 10000
                 > {GRANGER_F_CRIT_E4} * ssef_e12 AS causal
    FROM sse
    """


@register(
    "q_ts_granger",
    oracle=_granger_sql("//").format(big="HUGEINT"),
    tags=("M2", "M14", "D10", "Q10"),
)
def q_ts_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRANGER CAUSALITY (1969) — does yesterday's VIEW volume carry
    predictive information about today's mean PURCHASE value beyond
    what yesterday's purchase value already carries? The F-test
    between two nested OLS fits on the first 30 day-rows: restricted
    x_t ~ 1 + x_(t-1) vs full x_t ~ 1 + x_(t-1) + y_(t-1); if adding
    the lagged second series significantly reduces SSE, y
    "Granger-causes" x — the standard leading-indicator screen in
    every metrics warehouse, and the causal bridge between the D10
    forecasters and the Q-family regressors.

    Exactness: the series are integers by construction (x = per-day
    FLOOR-mean purchase cents — bounded by the value domain at every
    sf, unlike a raw sum; y = view count); all nine normal-equation
    sums are exact integers; the full model solves by CRAMER'S RULE in
    DECIMAL(38,0)/HUGEINT (3-term products peak ~10^34 at sf10); every
    coefficient is a SIGN-SPLIT truncated-e6 fixing (|num|*10^6 div
    |det| with the sign applied after — Spark div truncates, DuckDB //
    floors, they agree only on non-negatives); SSEs are exact integer
    sums of squared e6-residuals of those FIXED coefficients (the
    q_train_ridge staging), so sser >= ssef can be violated only by
    fixing noise — clamped at 0 and stated. Verdict cross-multiplied
    vs F(0.95; 1, 26) e4: diff*(m-3)*10^4 > 42252*ssef, df2 = 26
    pinned by the first-30-days construction.

    Plan: one fact scan to the 30-row day census; lags/sums/Cramer/
    SSE all on <= 30-row frames (the coefficient cross is a 1-row
    broadcast). Calendar-bounded, row-count-free after the census."""
    for name in ("events",):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_granger_sql("div").format(big="DECIMAL(38,0)"))


# Dunn-Bonferroni per-pair critical: 5 groups -> m = 10 pairwise
# comparisons, family alpha = 0.05 -> per-pair two-sided 0.005 ->
# z = 2.8070338, squared e6.
DUNN_Z2_E6 = 7_879_439


@register(
    "q_stats_dunn",
    oracle=f"""
    WITH {_KRUSKAL_GROUPS_SQL},
    tot AS (
        SELECT CAST(SUM(ng) AS HUGEINT) AS n,
               (SELECT CAST(SUM(t * t * t - t) AS HUGEINT) FROM per_v)
                 AS ties3
        FROM grp
    ),
    pairs AS (
        SELECT a.g AS g_a, b.g AS g_b,
               CAST(a.ng AS BIGINT) AS n_a, CAST(b.ng AS BIGINT) AS n_b,
               a.s2 * b.ng - b.s2 * a.ng AS dnum,
               a.ng AS nga, b.ng AS ngb
        FROM grp a JOIN grp b ON a.g < b.g
    )
    SELECT g_a, g_b, n_a, n_b,
           CAST((CASE WHEN dnum < 0 THEN -1 ELSE 1 END)
                * ((ABS(dnum) * 1000) // (nga * ngb)) AS BIGINT)
             AS rankmean_diff2_e3,
           CAST((3 * (t.n - 1) * ((dnum * dnum) // (nga * ngb))
                 * 1000000)
                // ((nga + ngb)
                    * (t.n * (t.n + 1) * (t.n - 1) - t.ties3))
                AS BIGINT) AS z2_e6_floor,
           3 * (t.n - 1) * ((dnum * dnum) // (nga * ngb)) * 1000000
             > {DUNN_Z2_E6} * (nga + ngb)
               * (t.n * (t.n + 1) * (t.n - 1) - t.ties3)
             AS significant
    FROM pairs, tot t
    ORDER BY g_a, g_b
    """,
    tags=("M2", "M14", "E3"),
)
def q_stats_dunn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUNN'S POST-HOC TEST (1964) with Bonferroni control — the
    decision layer AFTER q_stats_kruskal: the omnibus H only says
    "some event types' value distributions differ"; Dunn says WHICH of
    the 10 pairs differ, using the same pooled midranks (never
    re-ranking per pair, which is why it is Dunn and not 10
    Mann-Whitneys — the pooled ranking keeps the comparisons mutually
    consistent) with the tie-corrected variance
    V = (N(N+1)/12 - sum(t^3-t)/(12(N-1))) and the per-pair critical
    z(alpha/(k(k-1))) = 2.807 at family alpha = 0.05.

    Exactness: rank sums ride DOUBLED from the q_stats_kruskal tie
    census (exact HUGEINT); each pair's mean-rank difference is the
    exact integer cross D = S2_a*n_b - S2_b*n_a over denominator
    n_a*n_b; z^2 = 3(N-1)*D^2 / (n_a n_b (n_a+n_b)(N(N+1)(N-1)-T))
    after multiplying the 1/12s through. D^2*10^6 alone passes 38
    digits at sf1, so ONE staged floor (D^2 div n_a n_b, the Kruskal
    documented trade) keeps every operand inside DECIMAL(38,0)/HUGEINT
    through sf100; the verdict is the same staged comparison evaluated
    identically in both engines, and the reported mean-rank difference
    is a sign-split e3 fixing (div truncates / // floors — ABS first).

    Plan: the two Kruskal censuses (pooled value domain + group-value
    domain) reused verbatim, then a 5x5 upper-triangle self-join of
    the 5-row group frame — 10 output rows, all arithmetic
    domain-bounded."""
    per_v, grp = _kruskal_groups(spark, sf_dir)
    tot = grp.agg(F.sum("ng").cast(D38).alias("n")).crossJoin(
        per_v.agg(
            F.sum(
                F.col("t") * F.col("t") * F.col("t") - F.col("t")
            )
            .cast(D38)
            .alias("ties3")
        )
    )
    a = grp.select(
        F.col("g").alias("g_a"), F.col("ng").alias("nga"), F.col("s2").alias("s2a")
    )
    b = grp.select(
        F.col("g").alias("g_b"), F.col("ng").alias("ngb"), F.col("s2").alias("s2b")
    )
    pairs = (
        a.join(b, F.col("g_a") < F.col("g_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "g_a",
            "g_b",
            F.col("nga").cast("bigint").alias("n_a"),
            F.col("ngb").cast("bigint").alias("n_b"),
            (F.col("s2a") * F.col("ngb") - F.col("s2b") * F.col("nga")).alias(
                "dnum"
            ),
            "nga",
            "ngb",
            "n",
            "ties3",
        )
    )
    vterm = (
        F.col("n") * (F.col("n") + 1) * (F.col("n") - 1) - F.col("ties3")
    )
    staged = F.expr("(dnum * dnum) div (nga * ngb)")
    return pairs.select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        F.expr(
            "CAST((CASE WHEN dnum < 0 THEN -1 ELSE 1 END)"
            " * ((ABS(dnum) * 1000) div (nga * ngb)) AS BIGINT)"
        ).alias("rankmean_diff2_e3"),
        F.expr(
            "CAST((3 * (n - 1) * ((dnum * dnum) div (nga * ngb)) * 1000000)"
            " div ((nga + ngb) * (n * (n + 1) * (n - 1) - ties3))"
            " AS BIGINT)"
        ).alias("z2_e6_floor"),
        (
            F.lit(3).cast(D38) * (F.col("n") - 1) * staged * F.lit(1000000)
            > F.lit(DUNN_Z2_E6).cast(D38) * (F.col("nga") + F.col("ngb")) * vterm
        ).alias("significant"),
    )


# Studentized-range critical q(0.05; k=5, df=inf) = 3.858, squared e4.
TUKEY_Q2_E4 = 148_842


def _group_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned 5-row (g, n, s, q) census — per event type the count, cent
    sum and cent square sum in DECIMAL(38,0) — shared by tukey and
    games_howell. Every downstream marginal / self-join side reads it;
    unpinned, each consumer re-paid the fact scan."""
    return pin(_type_moments(spark, sf_dir), "group_moments")


@register(
    "q_stats_tukey",
    oracle=f"""
    WITH {_events_x("cents")},
    {_GRP_SQL},
    {_gterm_sql("g, n, s, q")},
    tot AS (
        SELECT CAST(SUM(n) AS HUGEINT) AS nn,
               CAST(COUNT(*) AS HUGEINT) AS k,
               1000000 * CAST(SUM(q) AS HUGEINT)
                 - CAST(SUM(term_e6) AS HUGEINT) AS ssw_e6
        FROM gterm
    ),
    pairs AS (
        SELECT a.g AS g_a, b.g AS g_b,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               a.s * b.n - b.s * a.n AS dnum,
               a.n AS na, b.n AS nb
        FROM gterm a JOIN gterm b ON a.g < b.g
    )
    SELECT g_a, g_b, n_a, n_b,
           CAST((CASE WHEN dnum < 0 THEN -1 ELSE 1 END)
                * ((ABS(dnum) * 100) // (na * nb)) AS BIGINT)
             AS meandiff_e2,
           CAST(t.ssw_e6 // (t.nn - t.k) AS BIGINT) AS msw_e6,
           ((dnum * dnum) // (na * nb)) * 2 * (t.nn - t.k) * 10000000000
             > {TUKEY_Q2_E4} * t.ssw_e6 * (na + nb)
             AS significant
    FROM pairs, tot t
    ORDER BY g_a, g_b
    """,
    tags=("M2", "M14", "D3"),
)
def q_stats_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TUKEY'S HSD (1949) — the PARAMETRIC post-hoc next to the rank
    post-hoc q_stats_dunn: after q_stats_anova's omnibus F says "some
    mean differs", HSD says WHICH pairs differ while controlling the
    FAMILY error rate through the studentized range (all 10 pairwise
    mean gaps compared against one q(0.05; k=5, df~inf) = 3.858
    yardstick — tighter than Bonferroni t-tests because it models the
    max-gap distribution directly).

    Exactness: the single (group) census gives exact (n, s, q); SSW
    is q_stats_anova's (``_oneway_ss``); each pair's mean gap is the
    exact integer cross
    D = s_a*n_b - s_b*n_a over n_a*n_b; the HSD condition
    (m_a - m_b)^2 > q^2 * (SSW/(N-k))/2 * (1/n_a + 1/n_b)
    multiplies through to
    D^2 * 2(N-k) * 10^10 > q2_e4 * ssw_e6 * (n_a+n_b) * n_a*n_b,
    with ONE staged floor (D^2 div n_a*n_b, the q_stats_dunn trade)
    keeping operands inside 38 digits through sf10; reported mean
    differences are sign-split e2 fixings (div/ // agree only after
    ABS). df = N-k is large at every sf, so the df=inf critical row is
    the honest constant (stated, like Pocock's boundary).

    Plan: ONE map-side-combined census to 5 rows, a 10-row
    upper-triangle self-join, a 1-row scalar cross — identical scale
    shape to q_stats_dunn: the fact table is scanned once."""
    grp = _group_moments(spark, sf_dir)
    tot = _oneway_ss(grp).select("nn", "k", "ssw_e6")
    a = grp.select(
        F.col("g").alias("g_a"), F.col("n").alias("na"), F.col("s").alias("sa")
    )
    b = grp.select(
        F.col("g").alias("g_b"), F.col("n").alias("nb"), F.col("s").alias("sb")
    )
    pairs = (
        a.join(b, F.col("g_a") < F.col("g_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "g_a",
            "g_b",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).alias(
                "dnum"
            ),
            "na",
            "nb",
            "nn",
            "k",
            "ssw_e6",
        )
    )
    return pairs.select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        F.expr(
            "CAST((CASE WHEN dnum < 0 THEN -1 ELSE 1 END)"
            " * ((ABS(dnum) * 100) div (na * nb)) AS BIGINT)"
        ).alias("meandiff_e2"),
        F.expr("CAST(ssw_e6 div (nn - k) AS BIGINT)").alias("msw_e6"),
        (
            F.expr("((dnum * dnum) div (na * nb))")
            * F.lit(2).cast(D38)
            * (F.col("nn") - F.col("k"))
            * F.lit(10000000000).cast(D38)
            > F.lit(TUKEY_Q2_E4).cast(D38)
            * F.col("ssw_e6")
            * (F.col("na") + F.col("nb"))
        ).alias("significant"),
    )


# Games-Howell shares the studentized-range yardstick with Tukey:
# q(0.05; k=5, df=inf) = 3.858, squared e4. Welch dfs at fixture group
# sizes are in the tens of thousands (reported per pair as df_e2), so
# the df=inf critical row is the honest constant, stated like Tukey's.
GH_Q2_E4 = TUKEY_Q2_E4


@register(
    "q_stats_games_howell",
    oracle=f"""
    WITH {_events_x("cents")},
    {_GRP_SQL},
    gterm AS (
        SELECT g, n, s,
               ((n * q - s * s) * 1000000) // (n * n * (n - 1)) AS u_e6
        FROM grp
    ),
    pairs AS (
        SELECT a.g AS g_a, b.g AS g_b,
               a.n AS na, b.n AS nb,
               a.s * b.n - b.s * a.n AS dnum,
               a.u_e6 AS ua, b.u_e6 AS ub
        FROM gterm a JOIN gterm b ON a.g < b.g
    )
    SELECT g_a, g_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST((CASE WHEN dnum < 0 THEN -1 ELSE 1 END)
                * ((ABS(dnum) * 100) // (na * nb)) AS BIGINT)
             AS meandiff_e2,
           CAST(ua + ub AS BIGINT) AS varsum_e6,
           CAST(((ua + ub) * (ua + ub) * 100 * (na - 1) * (nb - 1))
                // GREATEST(ua * ua * (nb - 1)
                            + ub * ub * (na - 1), 1) AS BIGINT)
             AS df_welch_e2,
           ((dnum * dnum) // (na * nb)) * 2 * 10000000000
             > {GH_Q2_E4} * (ua + ub) * na * nb
             AS significant
    FROM pairs
    ORDER BY g_a, g_b
    """,
    tags=("M2", "M14", "D3"),
)
def q_stats_games_howell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAMES-HOWELL (1976) — the UNEQUAL-VARIANCE post-hoc that
    completes the triad beside q_stats_dunn (rank/Bonferroni) and
    q_stats_tukey (parametric/pooled): when group variances differ,
    Tukey's pooled MSW yardstick is wrong in both directions
    (anti-conservative against low-variance pairs, conservative
    against high-variance ones); Games-Howell replaces it with each
    pair's OWN Welch standard error s_a^2/n_a + s_b^2/n_b and Welch-
    Satterthwaite degrees of freedom — the pairwise analogue of
    Welch's t-test under the studentized-range family control.

    Exactness: the single (group) census gives exact (n, s, q); each
    group's variance numerator V = n*q - s^2 is an exact non-negative
    integer (Cauchy-Schwarz), and u = s^2/n-per-observation enters as
    the e6 fixing U_e6 = (V * 10^6) div (n^2 (n-1)). The pair gap is
    the exact cross D = s_a*n_b - s_b*n_a; the significance condition
    (m_a - m_b)^2 > q^2/2 * (s_a^2/n_a + s_b^2/n_b) multiplies
    through to  T * 2 * 10^10 > q2_e4 * (U_a + U_b) * n_a * n_b  with
    T = D^2 div (n_a n_b) — the same TWO staged floors (T, U) as the
    Dunn/Tukey trade, every operand inside 38 digits through sf10.
    The Welch df is reported per pair as the pinned integer fixing
    df_e2 = ((U_a+U_b)^2 * 100 * (n_a-1)(n_b-1)) div
    (U_a^2 (n_b-1) + U_b^2 (n_a-1)) — the common-denominator form
    with ONE final floor, chosen because the naive per-term staging
    U^2 div (n-1) is ~6.5e19 at sf0.001 and Spark `div` (which
    returns BIGINT whatever its operands) would wrap it; df lands in
    the thousands at every sf, which is what makes the df=inf
    critical row honest.

    Plan: ONE map-side-combined census to 5 rows, a 10-row
    upper-triangle self-join — no pooled total is even needed (unlike
    Tukey there is no MSW scalar), so the fact table is scanned once
    and the plan is two exchanges end-to-end."""
    grp = _group_moments(spark, sf_dir)
    gterm = grp.select(
        "g",
        "n",
        "s",
        F.expr(
            "((n * q - s * s) * 1000000) div (n * n * (n - 1))"
        ).alias("u_e6"),
    )
    a = gterm.select(
        F.col("g").alias("g_a"),
        F.col("n").alias("na"),
        F.col("s").alias("sa"),
        F.col("u_e6").alias("ua"),
    )
    b = gterm.select(
        F.col("g").alias("g_b"),
        F.col("n").alias("nb"),
        F.col("s").alias("sb"),
        F.col("u_e6").alias("ub"),
    )
    pairs = a.join(b, F.col("g_a") < F.col("g_b")).select(
        "g_a",
        "g_b",
        "na",
        "nb",
        (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).alias("dnum"),
        "ua",
        "ub",
    )
    return pairs.select(
        "g_a",
        "g_b",
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.expr(
            "CAST((CASE WHEN dnum < 0 THEN -1 ELSE 1 END)"
            " * ((ABS(dnum) * 100) div (na * nb)) AS BIGINT)"
        ).alias("meandiff_e2"),
        (F.col("ua") + F.col("ub")).cast("bigint").alias("varsum_e6"),
        # Spark `div` always returns BIGINT whatever its operands, so
        # (a) u_e6 (itself a div result) re-enters as BIGINT and every
        # product must be lifted back to DECIMAL(38,0), and (b) NO
        # intermediate quotient may exceed int64 — the naive
        # ua^2 div (na-1) staging is ~6.5e19 at sf0.001 and would
        # wrap, so the df fixing uses the common-denominator form
        # with ONE final div (which is also one fewer floor)
        F.expr(
            "CAST(((CAST(ua AS decimal(38,0)) + ub)"
            "      * (CAST(ua AS decimal(38,0)) + ub)"
            "      * 100 * (na - 1) * (nb - 1))"
            " div GREATEST(CAST(ua AS decimal(38,0)) * ua * (nb - 1)"
            "              + CAST(ub AS decimal(38,0)) * ub * (na - 1),"
            "              1) AS BIGINT)"
        ).alias("df_welch_e2"),
        (
            F.expr("((dnum * dnum) div (na * nb))")
            * F.lit(2).cast(D38)
            * F.lit(10000000000).cast(D38)
            > F.lit(GH_Q2_E4).cast(D38)
            * (F.col("ua") + F.col("ub"))
            * F.col("na")
            * F.col("nb")
        ).alias("significant"),
    )


@register(
    "q_stats_mann_kendall",
    oracle=f"""
    WITH {_daily_sql("v")},
    pairs AS (
        SELECT a.g,
               CAST(SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_stat
        FROM daily a JOIN daily b ON a.g = b.g AND a.d < b.d
        GROUP BY a.g
    ),
    nn AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY g),
    ties AS (
        SELECT g,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY g, v) tc
        WHERE t > 1 GROUP BY g
    )
    SELECT nn.g AS event_type, nn.n AS n_days, p.s_stat,
           CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5)
                - COALESCE(t.tie_term, 0) AS BIGINT) AS var18,
           CASE WHEN GREATEST(ABS(p.s_stat) - 1, 0)
                     * GREATEST(ABS(p.s_stat) - 1, 0)
                     * 18000000
                     > {CHI2_DF1_E6}
                       * (nn.n * (nn.n - 1) * (2 * nn.n + 5)
                          - COALESCE(t.tie_term, 0))
                THEN (CASE WHEN p.s_stat > 0 THEN 'increasing'
                           ELSE 'decreasing' END)
                ELSE 'no_trend' END AS trend,
           GREATEST(ABS(p.s_stat) - 1, 0)
             * GREATEST(ABS(p.s_stat) - 1, 0)
             * 18000000
             > {CHI2_DF1_E6}
               * (nn.n * (nn.n - 1) * (2 * nn.n + 5)
                  - COALESCE(t.tie_term, 0)) AS significant
    FROM nn JOIN pairs p ON p.g = nn.g
    LEFT JOIN ties t ON t.g = nn.g
    ORDER BY event_type
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-KENDALL TREND TEST (Mann 1945 / Kendall 1975) — the
    nonparametric IS-THERE-A-MONOTONIC-TREND decision that belongs
    beside q_ts_theil_sen (which estimates the slope but renders no
    verdict) and q_timeseries_trend (whose OLS slope assumes
    linearity): per event_type, S = sum over day pairs i<j of
    sign(v_j - v_i) on the daily cent-sum series; under H0 S ~ 0 with
    Var(S) = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)]/18 (tie-corrected),
    and the two-sided alpha=0.05 verdict uses the continuity-corrected
    z = (|S|-1)/sqrt(Var).

    Exactness: S is an exact integer; the variance NUMERATOR (x18) is
    an exact integer from the day count and the value-tie census; the
    verdict multiplies z^2 > z_crit^2 through to
    (max(|S|-1,0))^2 * 18*10^6 > chi2(1)_e6 * var18 — wholly integer,
    no square root ever taken. Direction is reported only when
    significant (the standard M-K reading).

    Plan at 100 TB: the pair frame is CALENDAR-bounded, not
    row-bounded — the fact table collapses to one (type, day) census
    (map-side combined, ~30 rows per series at any sf) and the i<j
    self-join is an equi-join on type with a date residual over that
    tiny frame (~n^2/2 = 435 pairs per series); the q_ts_theil_sen /
    q_stats_kendall domain-bounding discipline. 100x more events
    changes the daily sums, never the pair count."""
    # pinned (round 12): the calendar-bounded census feeds the
    # pair self-join's two sides, the day count and the tie census
    # — unpinned, 4 fact scans (q_stats_kendall finding)
    daily = pin(_type_day_sums(spark, sf_dir), "q_stats_mann_kendall.daily")
    a = daily.select("g", F.col("d").alias("d_a"), F.col("v").alias("v_a"))
    b = daily.select(
        F.col("g").alias("g_b"), F.col("d").alias("d_b"),
        F.col("v").alias("v_b"),
    )
    pairs = (
        a.join(b, (F.col("g") == F.col("g_b")) & (F.col("d_a") < F.col("d_b")))
        .groupBy("g")
        .agg(
            F.sum(
                F.when(F.col("v_b") > F.col("v_a"), 1)
                .when(F.col("v_b") < F.col("v_a"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nn = daily.groupBy("g").agg(F.count("*").cast("bigint").alias("n"))
    ties = (
        daily.groupBy("g", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("g")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
        - F.coalesce(F.col("tie_term"), F.lit(0))
    ).cast("bigint")
    corr2 = (
        F.greatest(F.abs(F.col("s_stat")) - 1, F.lit(0))
        * F.greatest(F.abs(F.col("s_stat")) - 1, F.lit(0))
    )
    sig = corr2 * F.lit(18000000) > F.lit(CHI2_DF1_E6) * var18
    return (
        nn.join(pairs, "g")
        .join(ties, "g", "left")
        .select(
            F.col("g").alias("event_type"),
            F.col("n").alias("n_days"),
            "s_stat",
            var18.alias("var18"),
            F.when(
                sig,
                F.when(F.col("s_stat") > 0, F.lit("increasing")).otherwise(
                    F.lit("decreasing")
                ),
            )
            .otherwise(F.lit("no_trend"))
            .alias("trend"),
            sig.alias("significant"),
        )
    )


# chi-square(df=2, alpha=0.05) = 5.991465; the verdict compares the
# staged JB*24*100 fixing against 5.991465 * 24 * 100 * 10 exactly.
JB24_E3 = 14_379_516


@register(
    "q_stats_jarque_bera",
    oracle=f"""
    WITH {_events_x("cents")},
    cen AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(cents) AS HUGEINT) AS s
        FROM x GROUP BY g
    ),
    ym AS (
        SELECT x.g, c.n,
               CAST(x.cents - (c.s // c.n) AS HUGEINT) AS y
        FROM x JOIN cen c ON c.g = x.g
    ),
    mom AS (
        SELECT g, MAX(n) AS n,
               CAST(SUM(y * y) AS HUGEINT) AS t2,
               CAST(SUM(y * y * y) AS HUGEINT) AS t3,
               CAST(SUM(y * y * y * y) AS HUGEINT) AS t4
        FROM ym GROUP BY g
    ),
    fix AS (
        SELECT g, n,
               t2 // n AS m2,
               (CASE WHEN t3 < 0 THEN -1 ELSE 1 END)
                 * (ABS(t3) // n) AS m3,
               t4 // n AS m4
        FROM mom
    ),
    jb AS (
        SELECT g, n, m2, m3, m4,
               ((4 * m3 * m3 * m2
                 + (m4 - 3 * m2 * m2) * (m4 - 3 * m2 * m2))
                // (m2 * m2)) AS s1
        FROM fix
    )
    SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CAST(m2 AS BIGINT) AS m2,
           CAST(m3 AS BIGINT) AS m3,
           CAST(m4 AS BIGINT) AS m4,
           CAST((n * s1 * 100) // (m2 * m2) AS BIGINT) AS jb24_e2,
           (n * s1 * 100) // (m2 * m2) * 1000 > {JB24_E3}
             AS normality_rejected
    FROM jb
    ORDER BY event_type
    """,
    tags=("M2", "M14"),
)
def q_stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JARQUE-BERA NORMALITY TEST (1980) — the distributional
    PRECONDITION check that completes the assumption-audit corner
    beside q_stats_brown_forsythe (variance homogeneity): per
    event_type, JB = n*(skew^2/6 + (kurtosis-3)^2/24) against
    chi-square(2), deciding whether the parametric layer (ANOVA,
    Tukey, t) is even admissible for this column.

    Exactness (the pinned fixing chain, identical in both engines and
    the pytest twin): center c = S div n (the FLOOR mean — the
    fractional remainder r/n < 1 cent is deliberately omitted from
    the center because carrying it multiplies every moment by n^k and
    blows the 4th moment past 38 digits by sf1; with the pinned
    integer center every operand stays inside 38 digits through
    sf100); raw moments about c as exact HUGEINT/DECIMAL(38,0) sums
    of y^2, y^3, y^4; per-observation moments M_k = T_k div n with
    the ABS-sign-split on the odd moment (Spark div truncates, DuckDB
    // floors — they agree only after ABS); then
    JB*24 = n*(4*M3^2*M2 + (M4 - 3*M2^2)^2)/M2^4 evaluated with TWO
    staged floors (S1 = numerator div M2^2, then the e2 fixing) and
    the verdict is the exact integer comparison
    jb24_e2 * 1000 > 5.991465*24*100*10.

    Plan: one fact scan for the center census, one for the moment
    sums (the two-pass exact-center trade every single-pass
    'streaming moments' implementation gets wrong in float), both
    map-side combined to 5 rows; the center joins back as a
    broadcast. Domain-bounded everywhere."""
    x = _type_cents(spark, sf_dir, "cents")
    cen = x.groupBy("g").agg(
        F.count("*").cast(D38).alias("n"),
        F.sum("cents").cast(D38).alias("s"),
    )
    ym = x.join(F.broadcast(cen), "g").select(
        "g",
        "n",
        (F.col("cents").cast(D38) - F.expr("s div n")).cast(D38).alias("y"),
    )
    mom = ym.groupBy("g").agg(
        F.max("n").alias("n"),
        F.sum(F.expr("y * y")).cast(D38).alias("t2"),
        F.sum(F.expr("y * y * y")).cast(D38).alias("t3"),
        F.sum(F.expr("y * y * y * y")).cast(D38).alias("t4"),
    )
    fix = mom.select(
        "g",
        "n",
        F.expr("t2 div n").cast(D38).alias("m2"),
        F.expr(
            "(CASE WHEN t3 < 0 THEN -1 ELSE 1 END) * (ABS(t3) div n)"
        )
        .cast(D38)
        .alias("m3"),
        F.expr("t4 div n").cast(D38).alias("m4"),
    )
    jb = fix.select(
        "g",
        "n",
        "m2",
        "m3",
        "m4",
        F.expr(
            "(4 * m3 * m3 * m2"
            " + (m4 - 3 * m2 * m2) * (m4 - 3 * m2 * m2))"
            " div (m2 * m2)"
        )
        .cast(D38)
        .alias("s1"),
    )
    return jb.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.col("m2").cast("bigint").alias("m2"),
        F.col("m3").cast("bigint").alias("m3"),
        F.col("m4").cast("bigint").alias("m4"),
        F.expr("CAST((n * s1 * 100) div (m2 * m2) AS BIGINT)").alias(
            "jb24_e2"
        ),
        (
            F.expr("(n * s1 * 100) div (m2 * m2)").cast(D38) * F.lit(1000)
            > F.lit(JB24_E3).cast(D38)
        ).alias("normality_rejected"),
    )


# Two-sample Cramer-von Mises asymptotic critical value at alpha=0.05:
# T > 0.461 (Anderson 1962's limit distribution of n*m/N^2 * sum(F-G)^2).
CVM_CRIT_E3 = 461


@register(
    "q_stats_cramer_von_mises",
    oracle=f"""
    WITH {_FO_X_SQL},
    per_v AS (
        SELECT v,
               CAST(COUNT(*) FILTER (WHERE st = 'F') AS HUGEINT) AS ca,
               CAST(COUNT(*) FILTER (WHERE st = 'O') AS HUGEINT) AS cb
        FROM x GROUP BY v
    ),
    cum AS (
        SELECT ca + cb AS w,
               CAST(SUM(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS fa,
               CAST(SUM(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS fb
        FROM per_v
    ),
    g AS (
        SELECT MAX(fa) AS n, MAX(fb) AS m,
               SUM(w * (fa * (SELECT MAX(fb) FROM cum)
                        - fb * (SELECT MAX(fa) FROM cum))
                     * (fa * (SELECT MAX(fb) FROM cum)
                        - fb * (SELECT MAX(fa) FROM cum))) AS t_num
        FROM cum
    )
    SELECT CAST(n AS BIGINT) AS n_f,
           CAST(m AS BIGINT) AS n_o,
           CAST(t_num AS BIGINT) AS t_num,
           CAST((t_num * 1000)
                // (n * m * (n + m) * (n + m)) AS BIGINT) AS t_e3,
           t_num * 1000 > {CVM_CRIT_E3} * n * m * (n + m) * (n + m)
             AS significant
    FROM g
    """,
    tags=("M2", "D10", "E3"),
)
def q_stats_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample CRAMER-VON MISES test (Anderson 1962) — the
    INTEGRATED-SQUARE companion to q_stats_ks_test's sup-norm on the
    same F-vs-O order split: KS sees only the single worst CDF gap
    (sensitive to one sharp divergence, blind to many small ones);
    CvM integrates the squared gap over every pooled observation,
    T = (nm/N^2) * sum_i (F_n(x_i) - G_m(x_i))^2 — the complementary
    sensitivity profile every distribution-shift monitor wants both
    of.

    Exactness: the same per-value census + cumulative window as KS
    gives exact (fa, fb) at every distinct value; each value
    contributes weight (ca+cb) times the exact integer cross
    D_v = fa*m - fb*n squared, so T's numerator
    t_num = sum_v (ca+cb) * D_v^2 is an exact HUGEINT/DECIMAL(38,0)
    (denominator n*m*N^2); the alpha=0.05 verdict is the exact
    cross-multiplication t_num * 1000 > 461 * n*m*N^2 — no division
    in the decision at all; the reported t_e3 is a single staged
    floor (t_num*1000 div nmN^2, stated truncation — the DIV/MOD
    rounding decomposition is NOT available here because the
    denominator exceeds 2^53 at every sf, so its remainder-to-DOUBLE
    step would violate the house exact-operand rule).

    Plan: identical shape to KS — one map-side-combined value census,
    one cumulative window over the value domain, a 1-row aggregate;
    the fact table is scanned once and never windowed."""
    wcum = _running_by_v()
    cum = _fo_census(spark, sf_dir).select(
        (F.col("ca") + F.col("cb")).cast(D38).alias("w"),
        F.sum("ca").over(wcum).cast(D38).alias("fa"),
        F.sum("cb").over(wcum).cast(D38).alias("fb"),
    )
    tot = cum.agg(
        F.max("fa").cast(D38).alias("n"), F.max("fb").cast(D38).alias("m")
    )
    g = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "n",
            "m",
            (
                F.col("w")
                * (F.col("fa") * F.col("m") - F.col("fb") * F.col("n"))
                * (F.col("fa") * F.col("m") - F.col("fb") * F.col("n"))
            ).alias("term"),
        )
        .groupBy("n", "m")
        .agg(F.sum("term").cast(D38).alias("t_num"))
    )
    nm2 = F.expr("n * m * (n + m) * (n + m)")
    return g.select(
        F.col("n").cast("bigint").alias("n_f"),
        F.col("m").cast("bigint").alias("n_o"),
        F.col("t_num").cast("bigint").alias("t_num"),
        F.expr(
            "CAST((t_num * 1000) div (n * m * (n + m) * (n + m)) AS BIGINT)"
        ).alias("t_e3"),
        (
            F.col("t_num") * F.lit(1000).cast(D38)
            > F.lit(CVM_CRIT_E3).cast(D38) * nm2
        ).alias("significant"),
    )


@register(
    "q_stats_mood_median",
    oracle=f"""
    WITH {_events_x("cents")},
    pv AS (
        SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM x GROUP BY cents
    ),
    cum AS (
        SELECT cents,
               SUM(c) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cumc,
               SUM(c) OVER () AS nn
        FROM pv
    ),
    med AS (
        SELECT MIN(cents) AS med FROM cum WHERE cumc >= (nn + 1) // 2
    ),
    cells AS (
        SELECT x.g, x.cents > med.med AS above,
               CAST(COUNT(*) AS DECIMAL(38,0)) AS o
        FROM x, med GROUP BY x.g, x.cents > med.med
    ),
    {_chi2_terms_sql("g", "above", "g, above, o, row_t, n")}
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(med.med) AS BIGINT) AS pooled_median_cents,
           CAST(SUM(CASE WHEN above THEN o ELSE 0 END) AS BIGINT)
             AS n_above,
           CAST(SUM(term_e6) AS BIGINT) AS chi2_e6,
           SUM(term_e6) > {CHI2_DF4_E6} AS significant
    FROM terms, med
    """,
    tags=("M2", "M14", "D9"),
)
def q_stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOOD'S MEDIAN TEST (1950) — the classic k-group location test
    that completes the robustness LADDER beside q_stats_anova
    (parametric means), q_stats_kruskal (all ranks) and
    q_stats_brown_forsythe (median-centered spreads): it uses the
    LEAST information of the three — only which side of the POOLED
    median each observation falls — which is exactly why it is the
    recommended screen under extreme outliers or heavy censoring
    where even ranks are distorted.

    Machinery reuse, both proven elsewhere: the pooled lower median
    is q_stats_brown_forsythe's value-census selection
    (``_lower_median``, pooled instead of per type), and the 5x2
    above/at-or-below contingency runs through q_stats_chi2's
    per-cell terms (``_chi2_terms``), df = (5-1)(2-1) = 4 verdict
    against the same 9.487729 critical value.

    Plan: one pooled value census (domain-bounded) + one window for
    the median, one 10-cell census + three windows over it — the
    fact table is scanned twice (median pass, cell pass), the
    classic two-pass exact-selection trade."""
    x = _type_cents(spark, sf_dir, "cents")
    pv = x.groupBy("cents").agg(F.count("*").cast("bigint").alias("c"))
    med = _lower_median(pv, "cents")
    cells = (
        x.crossJoin(F.broadcast(med))
        .groupBy("g", (F.col("cents") > F.col("med")).alias("above"))
        .agg(
            F.count("*").cast(D38).alias("o"),
            F.max("med").alias("med"),
        )
    )
    terms = _chi2_terms(cells, "g", "above", "above", "o", "med")
    return terms.agg(
        F.max("n").cast("bigint").alias("n"),
        F.max("med").cast("bigint").alias("pooled_median_cents"),
        F.sum(F.when(F.col("above"), F.col("o")).otherwise(F.lit(0).cast(D38)))
        .cast("bigint")
        .alias("n_above"),
        F.sum("term_e6").cast("bigint").alias("chi2_e6"),
        (F.sum("term_e6") > F.lit(CHI2_DF4_E6)).alias("significant"),
    )


# T(x) = sum_{j=1..x} min(j, N+1-j): the prefix sum of Ansari-Bradley
# scores, closed form with integer-exact halves (both branches are
# products of consecutive integers). h = (N+1) div 2 is the peak.
_AB_T = (
    "(CASE WHEN {x} <= (({n} + 1) div 2)"
    " THEN ({x} * ({x} + 1)) div 2"
    " ELSE ((({n} + 1) div 2) * (({n} + 1) div 2 + 1)) div 2"
    "      + ((2 * {n} + 1 - (({n} + 1) div 2) - {x})"
    "         * ({x} - (({n} + 1) div 2))) div 2 END)"
)
_AB_T_DUCK = (
    "(CASE WHEN {x} <= (({n} + 1) // 2)"
    " THEN ({x} * ({x} + 1)) // 2"
    " ELSE ((({n} + 1) // 2) * (({n} + 1) // 2 + 1)) // 2"
    "      + ((2 * {n} + 1 - (({n} + 1) // 2) - {x})"
    "         * ({x} - (({n} + 1) // 2))) // 2 END)"
)
# e3 DIV/MOD fixing of an average tie score (num / t): remainders are
# below the tie-block size t, far inside 2^53.
_AB_FIX = (
    "1000 * (({num}) div t)"
    " + CAST(ROUND(1000.0 * CAST(({num}) % t AS DOUBLE)"
    " / CAST(t AS DOUBLE), 0) AS BIGINT)"
)


def _ab_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ca, t, nn, cumb, bsum) per tie block of the pooled F/O price
    census: the block's 'F' count and size, the pooled size, the count
    below it, and its Ansari-Bradley score sum T(cumb + t) - T(cumb)."""
    wcum = _running_by_v()
    pos = _fo_census(spark, sf_dir).select(
        "ca",
        "t",
        (F.sum("t").over(wcum) - F.col("t")).alias("cumb"),
        F.sum("t").over(Window.partitionBy()).alias("nn"),
    )
    return pos.select(
        "ca",
        "t",
        "nn",
        "cumb",
        (
            F.expr(_AB_T.format(x="(cumb + t)", n="nn"))
            - F.expr(_AB_T.format(x="cumb", n="nn"))
        ).alias("bsum"),
    )


def _ab_agg(spark: SparkSession, sf_dir: str, *extra: Column) -> DataFrame:
    """1-row (nn, n, m, s1, *extra, ab_e3, s2_e3) over ``_ab_scores``:
    pooled size, 'F' and 'O' counts, the score total and the e3
    fixings (``_AB_FIX``) of the 'F' score sum and of the squared-score
    sum; ``extra`` aggregates ride the same pass."""
    return _ab_scores(spark, sf_dir).agg(
        F.max("nn").cast(D38).alias("nn"),
        F.sum("ca").cast(D38).alias("n"),
        (F.max("nn") - F.sum("ca")).cast(D38).alias("m"),
        F.sum("bsum").cast(D38).alias("s1"),
        *extra,
        F.sum(F.expr(_AB_FIX.format(num="ca * bsum"))).cast(D38).alias("ab_e3"),
        F.sum(F.expr(_AB_FIX.format(num="bsum * bsum"))).cast(D38).alias("s2_e3"),
    )


def _ab_stages() -> list[Column]:
    """(dstage, vnum_e3) over ``_ab_agg``: the staged floor |D| div 1000
    of the exact cross D = ab_e3*N - n*S1*1000, and the e3 variance
    numerator N*sum(a^2) - S1^2 (clamped at 0)."""
    return [
        F.expr("ABS(ab_e3 * nn - n * s1 * 1000) div 1000").cast(D38).alias("dstage"),
        F.expr("GREATEST(nn * s2_e3 - s1 * s1 * 1000, CAST(0 AS decimal(38,0)))")
        .cast(D38)
        .alias("vnum_e3"),
    ]


@register(
    "q_stats_ansari_bradley",
    oracle=f"""
    WITH {_AB_POS_SQL},
    bs AS (
        SELECT ca, t, nn,
               {_AB_T_DUCK.format(x="(cumb + t)", n="nn")}
                 - {_AB_T_DUCK.format(x="cumb", n="nn")} AS bsum
        FROM pos
    ),
    {_ab_agg_sql()},
    fin AS (
        SELECT nn, n, m, s1, ab_e3,
               ABS(ab_e3 * nn - n * s1 * 1000) // 1000 AS dstage,
               GREATEST(nn * s2_e3 - s1 * s1 * 1000, 0) AS vnum_e3
        FROM agg
    ),
    vr AS (
        SELECT fin.*,
               GREATEST(n * m * (vnum_e3 // 1000000), 1) AS r1
        FROM fin
    )
    SELECT CAST(n AS BIGINT) AS n_f, CAST(m AS BIGINT) AS n_o,
           CAST(s1 AS BIGINT) AS score_total,
           CAST(ab_e3 AS BIGINT) AS ab_f_e3,
           CAST((dstage * dstage * (nn - 1)) // r1 AS BIGINT)
             AS z2_e3,
           (dstage * dstage * (nn - 1)) // r1 > 3841
             AS significant
    FROM vr
    """,
    tags=("M2", "M14"),
)
def q_stats_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSARI-BRADLEY rank scale test (1960) — the DISPERSION member
    that completes the two-sample corner on the F/O order split:
    location (q_stats_mann_whitney), whole-distribution sup
    (q_stats_ks_test), integrated square (q_stats_cramer_von_mises),
    and now SCALE — do the two cohorts differ in spread, judged
    nonparametrically by the center-folded scores
    a_r = min(r, N+1-r) (small at both extremes, large in the
    middle: sample A concentrating in the middle means larger spread
    for B). The rank-based sibling of q_stats_brown_forsythe's
    moment-based variance check.

    Exactness (the pinned chain): pooled value census -> each tie
    block's SCORE SUM via the closed-form prefix
    T(x) = sum min(j, N+1-j) (two consecutive-integer products, exact
    integer halves — verified against brute force in the twin);
    average tie scores enter through an e3 DIV/MOD fixing (``_AB_FIX``,
    remainders < t); exact
    integer cross D = ab_e3*N - n*S1*1000; null moments conditional
    on the tie pattern (Hollander-Wolfe): E = n*S1/N,
    Var = nm(N*sum(a^2) - S1^2)/(N^2(N-1)); the z^2 verdict runs on
    THREE pinned staged floors (dstage = |D| div 1000, r1 = nm*vnum
    div 10^6, z2_e3 = the final quotient) with the boundary
    convention z2_e3 > 3841 stated (declares significance when the
    pinned z^2 exceeds ~3.8415 by at least the floor resolution).
    Operand audit: every product stays inside 38 digits through
    sf0.1 even at maximal separation; beyond that the fixing scales
    shrink (stated, the q_stats_cramer_von_mises bound style).

    Plan: identical shape to KS/CvM — one map-side-combined value
    census, one cumulative window over the value domain, a 1-row
    aggregate; the fact table is scanned once."""
    agg = _ab_agg(spark, sf_dir)
    fin = agg.select(
        "nn",
        "n",
        "m",
        "s1",
        "ab_e3",
        *_ab_stages(),
    )
    # the floor MUST run on vnum_e3 alone: Spark `div` returns BIGINT
    # and silently WRAPS quotients > int64 (probed round 12 —
    # 5.1e27 div 1e6 = garbage, no error in non-ANSI), and
    # (n*m*vnum_e3) div 1e6 ~ 5.1e24 at sf0.1 while
    # vnum_e3 div 1e6 ~ 2.1e15 is safe through sf100; the product
    # n*m*v6 then stays in DECIMAL(38,0). sf0.01 fit int64 by only
    # 2x, which is why the oracle gate alone could not catch this.
    vr = fin.withColumn(
        "r1",
        F.expr(
            "GREATEST(n * m * (vnum_e3 div 1000000),"
            " CAST(1 AS decimal(38,0)))"
        ).cast(D38),
    )
    return vr.select(
        F.col("n").cast("bigint").alias("n_f"),
        F.col("m").cast("bigint").alias("n_o"),
        F.col("s1").cast("bigint").alias("score_total"),
        F.col("ab_e3").cast("bigint").alias("ab_f_e3"),
        F.expr(
            "CAST((CAST(dstage AS decimal(38,0)) * dstage * (nn - 1))"
            " div r1 AS BIGINT)"
        ).alias("z2_e3"),
        (
            F.expr(
                "(CAST(dstage AS decimal(38,0)) * dstage * (nn - 1))"
                " div r1"
            )
            > F.lit(3841)
        ).alias("significant"),
    )


# Chi-square df=2 critical value at alpha=0.05 (5.991465), e3-fixed:
# the Lepage D = z_W^2 + z_AB^2 verdict threshold.
LEPAGE_D_E3 = 5991


@register(
    "q_stats_lepage",
    oracle=f"""
    WITH {_AB_POS_SQL},
    bs AS (
        SELECT ca, t, nn, cumb,
               {{ab_t_hi}} - {{ab_t_lo}} AS bsum
        FROM pos
    ),
    {_ab_agg_sql(
        "CAST(SUM(ca * (2 * cumb + t + 1)) AS HUGEINT) AS r1x2",
        "CAST(SUM(t * t * t - t) AS HUGEINT) AS tie3",
    )},
    fin AS (
        SELECT nn, n, m, s1, r1x2, ab_e3,
               r1x2 - n * (nn + 1) AS wdiff,
               GREATEST(n * m * (nn * (nn * nn - 1) - tie3), 1) AS wden,
               ABS(ab_e3 * nn - n * s1 * 1000) // 1000 AS dstage,
               GREATEST(nn * s2_e3 - s1 * s1 * 1000, 0) AS vnum_e3
        FROM agg
    ),
    z AS (
        SELECT nn, n, m, r1x2,
               (wdiff * wdiff * 3 * nn * (nn - 1) * 1000) // wden AS zw2_e3,
               (dstage * dstage * (nn - 1))
                 // GREATEST(n * m * (vnum_e3 // 1000000), 1) AS zab2_e3
        FROM fin
    )
    SELECT CAST(n AS BIGINT) AS n_f, CAST(m AS BIGINT) AS n_o,
           CAST(r1x2 AS BIGINT) AS w_r1_x2,
           CAST(zw2_e3 AS BIGINT) AS zw2_e3,
           CAST(zab2_e3 AS BIGINT) AS zab2_e3,
           CAST(zw2_e3 + zab2_e3 AS BIGINT) AS d_e3,
           zw2_e3 + zab2_e3 > {LEPAGE_D_E3} AS significant
    FROM z
    """.format(
        ab_t_hi=_AB_T_DUCK.format(x="(cumb + t)", n="nn"),
        ab_t_lo=_AB_T_DUCK.format(x="cumb", n="nn"),
    ),
    tags=("M2", "M14"),
)
def q_stats_lepage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEPAGE location-scale omnibus (1971) — the two-sample test that
    catches a shift in EITHER center or spread: D = z_W^2 + z_AB^2,
    the sum of the squared standardized Wilcoxon rank-sum (location,
    q_stats_mann_whitney's statistic) and Ansari-Bradley (scale,
    q_stats_ansari_bradley's statistic), judged against chi-square
    df=2 (D_e3 > 5991). The canonical pre-test before choosing which
    specific alternative to chase — the rank-world analog of running
    t-test + F-test at once.

    The load-bearing design point: BOTH components are functions of
    the SAME pooled tie census. The chain is one (value -> ca, t)
    census, one cumulative window over the value domain, and a single
    1-row aggregate that folds the Wilcoxon quantities (2R1 =
    sum ca*(2*cumb + t + 1), tie3 = sum(t^3 - t)) and the AB
    quantities (closed-form block score sums via the T(x) prefix,
    e3 DIV/MOD average-score fixings) side by side — Lepage costs ONE
    extra aggregate column set over the AB scan, not a second pass.

    Exactness: z_W^2 is PURE integer cross-multiplication — with
    E(2R1) = n(N+1) and Var(2R1) = nm*kk/(3N(N-1)) where
    kk = N(N^2-1) - sum(t^3 - t), the e3 verdict is
    (2R1 - n(N+1))^2 * 3N(N-1) * 1000 div (nm*kk) — no float
    anywhere. z_AB^2 reuses the AB chain verbatim (dstage / vnum_e3 /
    staged r1 floors, incl. the round-12 div-quotient-wrap pin:
    the vnum floor runs on vnum_e3 ALONE before multiplying by nm).
    Operand audit: the z_W numerator wdiff^2 * 3N(N-1) * 1000 stays
    inside 38 digits through sf0.1 even at maximal separation
    (8.6e33); beyond that the fixing scales shrink (stated, the
    q_stats_ansari_bradley bound style). Quotients: both z^2 e3
    values are <= ~1000*N — nowhere near the int64 wrap.

    Plan at 100 TB: identical shape to KS/CvM/AB — one map-side-
    combined value census (domain-bounded, not row-bounded), one
    window over the census, a 1-row aggregate; the fact table is
    scanned once."""
    agg = _ab_agg(
        spark,
        sf_dir,
        F.sum(F.col("ca") * (2 * F.col("cumb") + F.col("t") + 1))
        .cast(D38)
        .alias("r1x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast(D38)
        .alias("tie3"),
    )
    fin = agg.select(
        "nn",
        "n",
        "m",
        "s1",
        "r1x2",
        "ab_e3",
        (F.col("r1x2") - F.col("n") * (F.col("nn") + 1))
        .cast(D38)
        .alias("wdiff"),
        F.expr(
            "GREATEST(n * m * (nn * (nn * nn - 1) - tie3),"
            " CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("wden"),
        *_ab_stages(),
    )
    # both floors follow the round-12 quotient-wrap pin: the AB vnum
    # floor runs on vnum_e3 alone (quotient ~2.1e15 at sf0.1, safe
    # through sf100) before the nm product re-enters DECIMAL(38,0);
    # the Wilcoxon quotient is z^2*1000 <= ~1000*N — never near int64.
    z = fin.select(
        "nn",
        "n",
        "m",
        "r1x2",
        F.expr(
            "(CAST(wdiff AS decimal(38,0)) * wdiff * 3 * nn * (nn - 1)"
            " * 1000) div wden"
        ).alias("zw2_e3"),
        F.expr(
            "(CAST(dstage AS decimal(38,0)) * dstage * (nn - 1))"
            " div GREATEST(n * m * (vnum_e3 div 1000000),"
            " CAST(1 AS decimal(38,0)))"
        ).alias("zab2_e3"),
    )
    return z.select(
        F.col("n").cast("bigint").alias("n_f"),
        F.col("m").cast("bigint").alias("n_o"),
        F.col("r1x2").cast("bigint").alias("w_r1_x2"),
        F.col("zw2_e3").cast("bigint").alias("zw2_e3"),
        F.col("zab2_e3").cast("bigint").alias("zab2_e3"),
        (F.col("zw2_e3") + F.col("zab2_e3")).cast("bigint").alias("d_e3"),
        (F.col("zw2_e3") + F.col("zab2_e3") > F.lit(LEPAGE_D_E3)).alias(
            "significant"
        ),
    )


@register(
    "q_stats_cochran_armitage",
    oracle="""
    WITH x AS (
        SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS w,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS succ
        FROM orders
    ),
    census AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS ni,
               CAST(SUM(succ) AS BIGINT) AS ri
        FROM x GROUP BY w
    ),
    agg AS (
        SELECT CAST(SUM(ni) AS HUGEINT) AS n,
               CAST(SUM(ri) AS HUGEINT) AS r,
               CAST(SUM(w * ri) AS HUGEINT) AS swr,
               CAST(SUM(w * ni) AS HUGEINT) AS swn,
               CAST(SUM(w * w * ni) AS HUGEINT) AS sw2n,
               CAST(COUNT(*) AS BIGINT) AS n_groups
        FROM census
    ),
    fin AS (
        SELECT n, r, n_groups,
               n * swr - r * swn AS tnum,
               GREATEST(r * (n - r) * (n * sw2n - swn * swn), 1) AS den
        FROM agg
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS n_success,
           CAST(n_groups AS BIGINT) AS n_groups,
           CAST(tnum AS BIGINT) AS trend_num,
           CASE WHEN tnum > 0 THEN 1 WHEN tnum < 0 THEN -1 ELSE 0 END
             AS trend_sign,
           CAST((tnum * tnum * n * 1000) // den AS BIGINT) AS z2_e3,
           (tnum * tnum * n * 1000) // den > 3841 AS significant
    FROM fin
    """,
    tags=("M2", "M14"),
)
def q_stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-ARMITAGE trend test (1954/1955) — IS there a monotone
    dose-response in a binary outcome across ORDERED groups? The
    ordered-alternative sibling of q_stats_chi2's unordered 2xk
    association (chi2 spends k-1 df and misses a monotone drift;
    Armitage spends 1 df ON the ordering and finds it), and the
    binary-outcome counterpart of q_stats_jonckheere's continuous
    one. Dose scores w = the priority digit (1-URGENT..5-LOW);
    outcome = final-status order.

    Exactness — the cleanest chain in the whole M14 pack, NOTHING but
    integers end to end: with U = sum w_i(r_i - n_i*pbar) the
    multiply-through by N gives T = N*sum(w_i r_i) - R*sum(w_i n_i),
    and the null variance multiplies through to
    z^2 = T^2 * N / (R(N-R) * (N*sum(n_i w_i^2) - (sum(n_i w_i))^2))
    — a SINGLE e3 staged floor produces the verdict against the
    chi-square df=1 bound (3841); no DIV/MOD fixing is even needed
    because no per-group division ever happens. Operand audit:
    T^2*N*1000 <= ~2e35 at sf1 (inside 38 digits through sf1, a
    tighter bound than the rank tests); the quotient is z^2*1000 <=
    ~1000*N — never near the int64 wrap. T's sign is reported
    separately (trend_sign) so the squared verdict loses no
    information.

    Plan at 100 TB: ONE map-side-combined census down to the 5-row
    dose domain, then a 1-row aggregate — the scan is the entire
    cost; nothing shuffles more than 5 rows."""
    x = t(spark, sf_dir, "orders").select(
        F.expr("CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT)").alias("w"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("succ"),
    )
    census = x.groupBy("w").agg(
        F.count("*").cast("bigint").alias("ni"),
        F.sum("succ").cast("bigint").alias("ri"),
    )
    agg = census.agg(
        F.sum("ni").cast(D38).alias("n"),
        F.sum("ri").cast(D38).alias("r"),
        F.sum(F.col("w") * F.col("ri")).cast(D38).alias("swr"),
        F.sum(F.col("w") * F.col("ni")).cast(D38).alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).cast(D38).alias("sw2n"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    fin = agg.select(
        "n",
        "r",
        "n_groups",
        (F.col("n") * F.col("swr") - F.col("r") * F.col("swn"))
        .cast(D38)
        .alias("tnum"),
        F.expr(
            "GREATEST(r * (n - r) * (n * sw2n - swn * swn),"
            " CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("den"),
    )
    z2 = F.expr("(CAST(tnum AS decimal(38,0)) * tnum * n * 1000) div den")
    return fin.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("r").cast("bigint").alias("n_success"),
        F.col("n_groups").cast("bigint").alias("n_groups"),
        F.col("tnum").cast("bigint").alias("trend_num"),
        F.when(F.col("tnum") > 0, 1)
        .when(F.col("tnum") < 0, -1)
        .otherwise(0)
        .cast("bigint")
        .alias("trend_sign"),
        z2.cast("bigint").alias("z2_e3"),
        (z2 > F.lit(3841)).alias("significant"),
    )


@register(
    "q_stats_cmh",
    oracle=f"""
    WITH {_ORDERS_STRATA_SQL},
    terms AS (
        SELECT k, nk, a,
               1000000 * a
                 - (1000000 * ((r1 * c1) // nk)
                    + CAST(ROUND(1000000.0
                          * CAST((r1 * c1) % nk AS DOUBLE)
                          / CAST(nk AS DOUBLE), 0) AS HUGEINT))
                 AS num_e6,
               1000000 * ((r1 * (nk - r1) * c1 * (nk - c1))
                          // (nk * nk * (nk - 1)))
                 + CAST(ROUND(1000000.0
                       * CAST((r1 * (nk - r1) * c1 * (nk - c1))
                              % (nk * nk * (nk - 1)) AS DOUBLE)
                       / CAST(nk * nk * (nk - 1) AS DOUBLE), 0) AS HUGEINT)
                 AS var_e6
        FROM strata WHERE nk >= 2
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(nk) AS HUGEINT) AS n,
               CAST(SUM(a) AS HUGEINT) AS a_total,
               CAST(SUM(num_e6) AS HUGEINT) AS num_e6,
               GREATEST(CAST(SUM(var_e6) AS HUGEINT), 1) AS var_e6
        FROM terms
    )
    SELECT CAST(n AS BIGINT) AS n, n_strata,
           CAST(a_total AS BIGINT) AS a_total,
           CAST(num_e6 AS BIGINT) AS num_e6,
           CAST(var_e6 AS BIGINT) AS var_e6,
           CAST((num_e6 * num_e6 * 1000) // (1000000 * var_e6) AS BIGINT)
             AS z2_e3,
           (num_e6 * num_e6 * 1000) // (1000000 * var_e6) > 3841
             AS significant
    FROM agg
    """,
    tags=("M2", "M14"),
)
def q_stats_cmh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COCHRAN-MANTEL-HAENSZEL test (1959) — exposure/outcome
    association judged ACROSS strata: is even-custkey exposure
    associated with final order status AFTER controlling for priority
    class? The confounder-adjusted sibling of q_stats_chi2 (a crude
    pooled 2x2 is vulnerable to Simpson's paradox — a stratum-mix
    shift can fabricate or erase association; CMH sums per-stratum
    evidence instead) and the k-strata generalization of the single
    2x2. Epidemiology's standard stratified test, spelled as a
    5-stratum census here.

    Exactness: per stratum the expected count E_k = r1*c1/n and the
    hypergeometric variance r1*r0*c1*c0/(n^2(n-1)) enter through
    fix_e6 (the variance product needs DECIMAL(38,0)/HUGEINT — it
    passes 4.7e20 at sf1, far beyond BIGINT). num_e6 =
    sum(1e6*a_k - fix(r1*c1, n)) stays an EXACT signed integer (no
    floor-sign hazard: each fixing's operands are non-negative, the
    signed difference is pure subtraction). Verdict: z^2 =
    num_e6^2/(1e6*var_e6) as ONE staged e3 floor against chi-square
    df=1 (3841; the classic continuity correction is deliberately
    omitted — stated convention, both engines identical). Operand
    audit: num_e6^2*1000 <= ~1.4e24 at sf0.1 (inside 38 digits
    through sf10); the remainder/divisor double division stays exact
    while n_k^2(n_k-1) < 2^53, i.e. through sf0.1 — beyond that the
    fixing scale shrinks (stated, the q_stats_ansari_bradley bound
    style). Degenerate strata (n_k < 2) are excluded identically in
    both engines.

    Plan at 100 TB: ONE map-side-combined census to the 5-row stratum
    domain (four conditional sums per stratum), then a 1-row
    aggregate — the scan is the entire cost, the classic
    stratified-analysis shape: evidence pools WITHOUT ever joining
    strata against each other."""
    r1, c1, nk = F.col("r1"), F.col("c1"), F.col("nk")
    terms = _orders_strata(spark, sf_dir).select(
        "k",
        "nk",
        "a",
        (F.lit(1000000).cast(D38) * F.col("a") - fix_e6(r1 * c1, nk)).alias(
            "num_e6"
        ),
        fix_e6(r1 * (nk - r1) * c1 * (nk - c1), nk * nk * (nk - 1)).alias(
            "var_e6"
        ),
    )
    agg = terms.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("nk").cast(D38).alias("n"),
        F.sum("a").cast(D38).alias("a_total"),
        F.sum("num_e6").cast(D38).alias("num_e6"),
        F.expr(
            "GREATEST(CAST(SUM(var_e6) AS decimal(38,0)),"
            " CAST(1 AS decimal(38,0)))"
        ).alias("var_e6"),
    )
    z2 = F.expr(
        "(CAST(num_e6 AS decimal(38,0)) * num_e6 * 1000)"
        " div (1000000 * var_e6)"
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        "n_strata",
        F.col("a_total").cast("bigint").alias("a_total"),
        F.col("num_e6").cast("bigint").alias("num_e6"),
        F.col("var_e6").cast("bigint").alias("var_e6"),
        z2.cast("bigint").alias("z2_e3"),
        (z2 > F.lit(3841)).alias("significant"),
    )


@register(
    "q_stats_page_trend",
    oracle=f"""
    WITH {_FRIEDMAN_RANKS_SQL},
    scored AS (
        SELECT g, r2_sum,
               CAST(DENSE_RANK() OVER (ORDER BY g) AS BIGINT) AS j
        FROM byg
    ),
    agg AS (
        SELECT CAST(SUM(j * r2_sum) AS BIGINT) AS l2,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM complete) AS b
        FROM scored
    ),
    fin AS (
        SELECT l2, b,
               l2 - b * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2 // 2} AS diff
        FROM agg
    )
    SELECT b AS n_blocks, CAST({FRIEDMAN_K} AS BIGINT) AS k, l2 AS l_x2,
           CAST(diff AS BIGINT) AS diff_x2,
           CASE WHEN diff > 0 THEN 1 WHEN diff < 0 THEN -1 ELSE 0 END
             AS trend_sign,
           CAST(CASE WHEN b > 0 THEN (diff * diff * 36000)
                // (b * {FRIEDMAN_K ** 2 * (FRIEDMAN_K + 1) ** 2
                        * (FRIEDMAN_K - 1)}) ELSE 0 END AS BIGINT) AS z2_e3,
           b > 0 AND (diff * diff * 36000)
                // (b * {FRIEDMAN_K ** 2 * (FRIEDMAN_K + 1) ** 2
                        * (FRIEDMAN_K - 1)}) > 3841 AS significant
    FROM fin
    """,
    tags=("M2", "M14"),
)
def q_stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGE'S L TEST (1963) — the ORDERED-alternative refinement of
    q_stats_friedman on the SAME blocked frame: Friedman asks "do the
    k treatments differ at all?" (k-1 df); Page asks "do they
    INCREASE along a hypothesized order?" (1 df on the ordering),
    exactly as q_stats_jonckheere refines q_stats_kruskal for
    independent groups and q_stats_cochran_armitage refines the chi2
    for binary outcomes — completing the ordered-alternative triad.
    L = sum_j j * R_j over per-block treatment ranks, scored by the
    alphabetical event-type order (the a-priori ordering convention,
    stated; the twin replays the same convention).

    Exactness: blocks/ranks reuse the Friedman chain verbatim —
    complete calendar-day blocks, DOUBLED midranks r2 = 2*c_lt + t +
    1 per block — so L2 = sum j*R2_j is an exact integer. Null
    moments in the doubled units: E(L2) = b*k(k+1)^2/2 and Var(L2) =
    b*k^2(k+1)^2(k-1)/36 (the CLASSIC no-ties moments — within-block
    cent-sum ties are measure-zero in this fixture and the
    convention is stated, the q_stats_jonckheere documented-omission
    style). Verdict: z2_e3 = (L2-E)^2*36*1000 div (b*k^2(k+1)^2(k-1))
    — with k=5 the denominator is 3600*b, every operand bounded by
    (2bk^2)^2*36000 ~ 1e12 at ANY sf (ranks live on the calendar x
    treatment domain, never the fact table) — trivially inside
    BIGINT; trend direction reported separately (trend_sign).

    Plan at 100 TB: identical to Friedman — one (day, type) census
    off a single fact scan, windows over a <=31x5 frame; scale
    changes only the census sums, never the frame."""
    complete, _, byg = _friedman_ranks(spark, sf_dir)
    scored = byg.select(
        "g",
        "r2_sum",
        F.dense_rank().over(Window.orderBy("g")).cast("bigint").alias("j"),
    )
    agg = scored.agg(
        F.sum(F.col("j") * F.col("r2_sum")).cast("bigint").alias("l2")
    ).crossJoin(complete.agg(F.count("*").cast("bigint").alias("b")))
    e_half = FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2 // 2
    vden = FRIEDMAN_K ** 2 * (FRIEDMAN_K + 1) ** 2 * (FRIEDMAN_K - 1)
    fin = agg.select(
        "l2",
        "b",
        (F.col("l2") - F.col("b") * F.lit(e_half)).alias("diff"),
    )
    z2 = F.when(
        F.col("b") > 0,
        F.expr(f"(diff * diff * 36000) div (b * {vden})"),
    ).otherwise(0)
    return fin.select(
        F.col("b").alias("n_blocks"),
        F.lit(FRIEDMAN_K).cast("bigint").alias("k"),
        F.col("l2").alias("l_x2"),
        F.col("diff").cast("bigint").alias("diff_x2"),
        F.when(F.col("diff") > 0, 1)
        .when(F.col("diff") < 0, -1)
        .otherwise(0)
        .cast("bigint")
        .alias("trend_sign"),
        z2.cast("bigint").alias("z2_e3"),
        ((F.col("b") > 0) & (z2 > F.lit(3841))).alias("significant"),
    )


@register(
    "q_stats_seasonal_mk",
    oracle=f"""
    WITH daily AS (
        SELECT event_type AS g, CAST(ts AS DATE) AS d,
               CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) % 7
                 AS season,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS v
        FROM events GROUP BY 1, 2, 3
    ),
    pairs AS (
        SELECT a.g, a.season,
               CAST(SUM(CASE WHEN b.v > a.v THEN 1
                             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT)
                 AS s_h
        FROM daily a
        JOIN daily b ON a.g = b.g AND a.season = b.season AND a.d < b.d
        GROUP BY a.g, a.season
    ),
    nn AS (
        SELECT g, season, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily GROUP BY g, season
    ),
    ties AS (
        SELECT g, season,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT g, season, v, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY g, season, v) tc
        WHERE t > 1 GROUP BY g, season
    ),
    per_season AS (
        SELECT nn.g, nn.season, nn.n,
               COALESCE(p.s_h, 0) AS s_h,
               nn.n * (nn.n - 1) * (2 * nn.n + 5)
                 - COALESCE(t.tie_term, 0) AS var18_h
        FROM nn
        LEFT JOIN pairs p ON p.g = nn.g AND p.season = nn.season
        LEFT JOIN ties t ON t.g = nn.g AND t.season = nn.season
    ),
    tot AS (
        SELECT g, CAST(SUM(n) AS BIGINT) AS n_days,
               CAST(COUNT(*) AS BIGINT) AS n_seasons,
               CAST(SUM(s_h) AS BIGINT) AS s_total,
               CAST(SUM(var18_h) AS BIGINT) AS var18_total
        FROM per_season GROUP BY g
    )
    SELECT g AS event_type, n_days, n_seasons, s_total, var18_total,
           CASE WHEN GREATEST(ABS(s_total) - 1, 0)
                     * GREATEST(ABS(s_total) - 1, 0) * 18000000
                     > {{chi2}} * var18_total
                THEN (CASE WHEN s_total > 0 THEN 'increasing'
                           ELSE 'decreasing' END)
                ELSE 'no_trend' END AS trend,
           GREATEST(ABS(s_total) - 1, 0)
             * GREATEST(ABS(s_total) - 1, 0) * 18000000
             > {{chi2}} * var18_total AS significant
    FROM tot ORDER BY event_type
    """.replace("{chi2}", "{CHI2_DF1_E6}").format(CHI2_DF1_E6=CHI2_DF1_E6),
    tags=("M2", "M14", "D10"),
)
def q_stats_seasonal_mk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL MANN-KENDALL (Hirsch-Slack 1984) — the trend verdict
    q_stats_mann_kendall renders, made robust to a WEEKLY cycle: a
    strong day-of-week seasonality (weekend dips) manufactures
    spurious sign reversals in the plain statistic; the seasonal
    variant compares each day ONLY against days in the SAME weekday
    slot (S_h per season), then pools S = sum_h S_h and
    Var = sum_h Var_h (independence across seasons under H0 — the
    classic Hirsch-Slack form; the serial-correlation covariance
    refinement is deliberately omitted, stated, the
    q_stats_jonckheere documented-omission style). The trio is now
    complete: Theil-Sen estimates the slope, MK judges the raw
    trend, seasonal MK judges it net of the weekly cycle.

    Day-of-week is epoch-day mod 7 computed ARITHMETICALLY (the
    q_timeseries_decompose pin: Spark dayofweek is 1=Sun..7 while
    DuckDB dow is 0=Sun..6 — calendar functions cannot be trusted
    across engines; subtraction from the 1970-01-01 origin can).
    Exactness: every S_h is an exact integer; every per-season
    variance numerator (x18) is exact from the season's day count
    and value-tie census; sums of exact integers pool exactly; the
    continuity-corrected two-sided verdict is the mann_kendall
    cross-multiplication on the POOLED totals — wholly integer.

    Plan at 100 TB: the pair frame is calendar-bounded and ~7x
    SMALLER than plain MK's (pairs form within weekday slots:
    7 * (n/7 choose 2) ~ n^2/14) — one (type, day) census, one tiny
    self-join, three small aggregates; 100x more events changes the
    daily sums, never the pair count."""
    # pinned (round 12): calendar-bounded census, multiple
    # consumers (pair join sides, counts, ties) — see
    # q_stats_mann_kendall
    daily = pin(
        _type_day_sums(spark, sf_dir).select(
            "g",
            "d",
            "v",
            (
                F.datediff(
                    F.col("d"), F.lit("1970-01-01").cast("date")
                ).cast("bigint")
                % 7
            ).alias("season"),
        ),
        "q_stats_seasonal_mk.daily",
    )
    a = daily.select(
        "g", "season", F.col("d").alias("d_a"), F.col("v").alias("v_a")
    )
    b = daily.select(
        F.col("g").alias("g_b"),
        F.col("season").alias("season_b"),
        F.col("d").alias("d_b"),
        F.col("v").alias("v_b"),
    )
    pairs = (
        a.join(
            b,
            (F.col("g") == F.col("g_b"))
            & (F.col("season") == F.col("season_b"))
            & (F.col("d_a") < F.col("d_b")),
        )
        .groupBy("g", "season")
        .agg(
            F.sum(
                F.when(F.col("v_b") > F.col("v_a"), 1)
                .when(F.col("v_b") < F.col("v_a"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_h")
        )
    )
    nn = daily.groupBy("g", "season").agg(
        F.count("*").cast("bigint").alias("n")
    )
    ties = (
        daily.groupBy("g", "season", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .groupBy("g", "season")
        .agg(
            F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5))
            .cast("bigint")
            .alias("tie_term")
        )
    )
    per_season = (
        nn.join(pairs, ["g", "season"], "left")
        .join(ties, ["g", "season"], "left")
        .select(
            "g",
            "n",
            F.coalesce(F.col("s_h"), F.lit(0)).alias("s_h"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).alias("var18_h"),
        )
    )
    tot = per_season.groupBy("g").agg(
        F.sum("n").cast("bigint").alias("n_days"),
        F.count("*").cast("bigint").alias("n_seasons"),
        F.sum("s_h").cast("bigint").alias("s_total"),
        F.sum("var18_h").cast("bigint").alias("var18_total"),
    )
    corr2 = (
        F.greatest(F.abs(F.col("s_total")) - 1, F.lit(0))
        * F.greatest(F.abs(F.col("s_total")) - 1, F.lit(0))
    )
    sig = corr2 * F.lit(18000000) > F.lit(CHI2_DF1_E6) * F.col(
        "var18_total"
    )
    return tot.select(
        F.col("g").alias("event_type"),
        "n_days",
        "n_seasons",
        "s_total",
        "var18_total",
        F.when(
            sig,
            F.when(F.col("s_total") > 0, F.lit("increasing")).otherwise(
                F.lit("decreasing")
            ),
        )
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
        sig.alias("significant"),
    )


@register(
    "q_stats_prop_ztest",
    oracle="""
    WITH x AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(COUNT(*) FILTER (
                   WHERE o_orderpriority = '1-URGENT') AS HUGEINT) AS x
        FROM orders
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS n_urgent,
           CAST((x * 1000000) // n AS BIGINT) AS p_hat_e6,
           CAST(5 * x - n AS BIGINT) AS dev_x5,
           CASE WHEN 5 * x - n > 0 THEN 1
                WHEN 5 * x - n < 0 THEN -1 ELSE 0 END AS dev_sign,
           CAST(((5 * x - n) * (5 * x - n) * 1000) // (4 * n) AS BIGINT)
             AS z2_e3,
           ((5 * x - n) * (5 * x - n) * 1000) // (4 * n) > 3841
             AS significant
    FROM x
    """,
    tags=("M2", "M14"),
)
def q_stats_prop_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-SAMPLE PROPORTION z-TEST — the most basic inferential
    question the M14 pack had not yet asked: does an observed share
    match a HYPOTHESIZED rate? H0: exactly 1/5 of orders are
    1-URGENT (the uniform-priority null). The single-proportion
    member completing the proportion corner beside q_stats_chi2
    (k-group association), q_stats_cochran_armitage (ordered trend)
    and q_stats_cmh (stratified) — and the template for any SLA /
    quota / A-A calibration check.

    Exactness — the shortest chain in the pack, pure integers end to
    end: with p0 = 1/5 rational, z^2 = (x - n*p0)^2 / (n*p0*(1-p0))
    multiplies through to (5x - n)^2 / (4n) exactly (numerator
    (x - n/5)^2 = (5x-n)^2/25; denominator n*(1/5)(4/5) = 4n/25; the
    25s cancel). Verdict: ONE staged e3 floor vs chi-square df=1
    (3841). Deviation sign reported separately. Operand audit:
    (5x-n)^2*1000 <= 16n^2*1000 ~ 3.6e16 at sf1 — inside BIGINT
    through sf10, inside 38 digits through sf10000.

    Plan at 100 TB: one map-side-combined 1-row count aggregate —
    the scan is the entire cost."""
    x = t(spark, sf_dir, "orders").agg(
        F.count("*").cast(D38).alias("n"),
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast(D38)
        .alias("x"),
    )
    dev = F.expr("5 * x - n")
    z2 = F.expr("((5 * x - n) * (5 * x - n) * 1000) div (4 * n)")
    return x.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("x").cast("bigint").alias("n_urgent"),
        F.expr("(x * 1000000) div n").cast("bigint").alias("p_hat_e6"),
        dev.cast("bigint").alias("dev_x5"),
        F.when(dev > 0, 1)
        .when(dev < 0, -1)
        .otherwise(0)
        .cast("bigint")
        .alias("dev_sign"),
        z2.cast("bigint").alias("z2_e3"),
        (z2 > F.lit(3841)).alias("significant"),
    )


@register(
    "q_stats_mh_odds",
    oracle=f"""
    WITH {_ORDERS_STRATA_SQL},
    cells AS (
        SELECT k, nk, a,
               r1 - a AS b,
               c1 - a AS c,
               nk - r1 - c1 + a AS d
        FROM strata WHERE nk >= 2
    ),
    terms AS (
        SELECT k,
               1000000 * ((a * d) // nk)
                 + CAST(ROUND(1000000.0 * CAST((a * d) % nk AS DOUBLE)
                       / CAST(nk AS DOUBLE), 0) AS HUGEINT) AS num_e6,
               1000000 * ((b * c) // nk)
                 + CAST(ROUND(1000000.0 * CAST((b * c) % nk AS DOUBLE)
                       / CAST(nk AS DOUBLE), 0) AS HUGEINT) AS den_e6
        FROM cells
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(num_e6) AS HUGEINT) AS num_e6,
               GREATEST(CAST(SUM(den_e6) AS HUGEINT), 1) AS den_e6
        FROM terms
    )
    SELECT n_strata,
           CAST(num_e6 AS BIGINT) AS num_e6,
           CAST(den_e6 AS BIGINT) AS den_e6,
           CAST((num_e6 * 1000000) // den_e6 AS BIGINT) AS or_mh_e6,
           num_e6 > den_e6 AS exposure_raises_odds
    FROM agg
    """,
    tags=("M2", "M14"),
)
def q_stats_mh_odds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANTEL-HAENSZEL COMMON ODDS RATIO (1959) — the EFFECT-SIZE
    companion to q_stats_cmh's verdict on the SAME stratified 2x2
    census: the test says WHETHER exposure is associated with
    outcome after controlling for priority strata; OR_MH =
    sum_k(a_k d_k / n_k) / sum_k(b_k c_k / n_k) says HOW STRONGLY,
    pooled with the MH weights that remain stable when strata are
    sparse (the reason MH beats a raw pooled OR under Simpson-style
    stratum imbalance). The pack's test/effect pairing discipline
    (chi2 -> Cramer's V, MW -> AUC) applied to the stratified corner.

    Exactness: each stratum's cross products a*d, b*c enter through
    fix_e6 by n_k (all operands non-negative — no floor-sign hazard
    anywhere in this query); the pooled ratio is
    one staged e6 floor of exact HUGEINT sums; the direction verdict
    (exposure_raises_odds = OR > 1) compares the two sums DIRECTLY —
    no division in the decision at all. Operand audit: a*d <= n_k^2/4
    ~ 2.2e10 at sf1 (BIGINT-safe; HUGEINT/DECIMAL38 carried anyway);
    remainder double-division exact while n_k < 2^53 — through
    sf10000, a LOOSER bound than the CMH variance fixing since no
    4-way product appears.

    Plan at 100 TB: identical to q_stats_cmh — ONE map-side-combined
    5-row stratum census, one 1-row aggregate; at 100 TB the two
    queries would share one census pass."""
    cells = _orders_strata(spark, sf_dir).select(
        "k",
        "nk",
        "a",
        (F.col("r1") - F.col("a")).cast(D38).alias("b"),
        (F.col("c1") - F.col("a")).cast(D38).alias("c"),
        (F.col("nk") - F.col("r1") - F.col("c1") + F.col("a"))
        .cast(D38)
        .alias("d"),
    )
    terms = cells.select(
        "k",
        fix_e6(F.col("a") * F.col("d"), F.col("nk")).alias("num_e6"),
        fix_e6(F.col("b") * F.col("c"), F.col("nk")).alias("den_e6"),
    )
    agg = terms.agg(
        F.count("*").cast("bigint").alias("n_strata"),
        F.sum("num_e6").cast(D38).alias("num_e6"),
        F.expr(
            "GREATEST(CAST(SUM(den_e6) AS decimal(38,0)),"
            " CAST(1 AS decimal(38,0)))"
        ).alias("den_e6"),
    )
    return agg.select(
        "n_strata",
        F.col("num_e6").cast("bigint").alias("num_e6"),
        F.col("den_e6").cast("bigint").alias("den_e6"),
        F.expr("(num_e6 * 1000000) div den_e6")
        .cast("bigint")
        .alias("or_mh_e6"),
        (F.col("num_e6") > F.col("den_e6")).alias("exposure_raises_odds"),
    )


@register(
    "q_stats_kendall_w",
    oracle=f"""
    WITH {_FRIEDMAN_Q_SQL},
    fin AS (
        SELECT n,
               CAST({FRIEDMAN_K - 1} * devsq AS BIGINT) AS q_num,
               CAST(a2 - n * {FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2} AS BIGINT)
                 AS q_den
        FROM q
    )
    SELECT n AS n_blocks, CAST({FRIEDMAN_K} AS BIGINT) AS k,
           q_num, q_den,
           CAST(CASE WHEN q_den > 0 THEN (q_num * 1000000)
                // (q_den * n * {FRIEDMAN_K - 1}) ELSE 0 END AS BIGINT)
             AS w_e6,
           CASE WHEN q_den <= 0 THEN 'degenerate'
                WHEN q_num * 10 > q_den * n * {FRIEDMAN_K - 1} * 7
                  THEN 'strong'
                WHEN q_num * 10 > q_den * n * {FRIEDMAN_K - 1} * 3
                  THEN 'moderate'
                ELSE 'weak' END AS agreement
    FROM fin
    """,
    tags=("M2", "M14"),
)
def q_stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KENDALL'S W — coefficient of concordance (1939): the EFFECT
    SIZE companion to q_stats_friedman's verdict on the SAME blocked
    frame (the test/effect pairing discipline: chi2 -> Cramer's V,
    MW -> AUC, CMH -> OR_MH — now Friedman -> W). "The days agree in
    how they rank the five event types" is a 0..1 quantity, not just
    a yes/no: W = Q / (b(k-1)) with the tie-corrected Q (the identity
    holds with both carrying the same tie correction, stated), so W
    rides Friedman's exact integer rational (q_num, q_den) verbatim
    — ONE extra floor, w_e6 = q_num*1e6 div (q_den*b*(k-1)), and the
    weak/moderate/strong interpretation buckets (0.3/0.7) are
    CROSS-MULTIPLIED integer comparisons (q_num*10 vs
    q_den*b*(k-1)*{{3,7}}) — no float anywhere, fully-tied degenerate
    den = 0 reported as its own bucket.

    Plan at 100 TB: identical to Friedman — one (day, type) census
    off a single fact scan, windows over a <= 31x5 frame; block
    count grows with the CALENDAR, not the row count."""
    q = _friedman_q(spark, sf_dir)
    kk1sq = FRIEDMAN_K * (FRIEDMAN_K + 1) ** 2
    fin = q.select(
        "n",
        (F.lit(FRIEDMAN_K - 1) * F.col("devsq")).cast("bigint").alias(
            "q_num"
        ),
        (F.col("a2") - F.col("n") * F.lit(kk1sq)).cast("bigint").alias(
            "q_den"
        ),
    )
    wden = f"q_den * n * {FRIEDMAN_K - 1}"
    return fin.select(
        F.col("n").alias("n_blocks"),
        F.lit(FRIEDMAN_K).cast("bigint").alias("k"),
        "q_num",
        "q_den",
        F.expr(
            f"CAST(CASE WHEN q_den > 0 THEN (q_num * 1000000)"
            f" div ({wden}) ELSE 0 END AS BIGINT)"
        ).alias("w_e6"),
        F.expr(
            f"CASE WHEN q_den <= 0 THEN 'degenerate'"
            f" WHEN q_num * 10 > {wden} * 7 THEN 'strong'"
            f" WHEN q_num * 10 > {wden} * 3 THEN 'moderate'"
            f" ELSE 'weak' END"
        ).alias("agreement"),
    )


@register(
    "q_stats_cohen_kappa",
    oracle="""
    WITH rated AS (
        SELECT CASE WHEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                         < 10000000 THEN 0
                    WHEN CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                         < 30000000 THEN 1
                    ELSE 2 END AS ra,
               CASE WHEN SUBSTRING(o_orderpriority, 1, 1) IN ('1', '2')
                      THEN 2
                    WHEN SUBSTRING(o_orderpriority, 1, 1) = '3' THEN 1
                    ELSE 0 END AS rb
        FROM orders
    ),
    conf AS (
        SELECT ra, rb, CAST(COUNT(*) AS HUGEINT) AS cnt
        FROM rated GROUP BY ra, rb
    ),
    marg AS (
        SELECT CAST(SUM(cnt) AS HUGEINT) AS n,
               CAST(SUM(CASE WHEN ra = rb THEN cnt ELSE 0 END)
                    AS HUGEINT) AS agree
        FROM conf
    ),
    diag AS (
        SELECT CAST(SUM(rt.t * ct.t) AS HUGEINT) AS pe_x
        FROM (SELECT ra AS cl, SUM(cnt) AS t FROM conf GROUP BY ra) rt
        JOIN (SELECT rb AS cl, SUM(cnt) AS t FROM conf GROUP BY rb) ct
          ON ct.cl = rt.cl
    )
    SELECT CAST(m.n AS BIGINT) AS n,
           CAST(m.agree AS BIGINT) AS n_agree,
           CAST(d.pe_x AS BIGINT) AS chance_x_n2,
           CAST((CASE WHEN m.n * m.agree - d.pe_x < 0 THEN -1 ELSE 1 END)
                * ((ABS(m.n * m.agree - d.pe_x) * 1000000)
                   // GREATEST(m.n * m.n - d.pe_x, 1)) AS BIGINT)
             AS kappa_e6,
           m.n * m.agree - d.pe_x > 0 AS beyond_chance
    FROM marg m CROSS JOIN diag d
    """,
    tags=("M2", "M14"),
)
def q_stats_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA (1960) — chance-corrected agreement between two
    raters, THE metric for label-quality audits (two annotators, a
    model vs a gold rule, two heuristic taggers): raw agreement po
    flatters raters who both favor a majority class; kappa rescales
    by the chance agreement pe implied by the marginals. Raters here
    are two DETERMINISTIC order classifiers into 3 tiers — price
    (cents < 1e7 / < 3e7 / above) vs urgency (priority 1-2 / 3 /
    4-5) — near-independent in this fixture, so kappa ~ 0 is the
    honest expected answer and the beyond_chance boolean genuinely
    discriminates.

    Exactness: multiply kappa = (po - pe)/(1 - pe) through by N^2:
    kappa = (N*agree - sum_c row_c*col_c) / (N^2 - sum_c row_c*col_c)
    — PURE integers off one 3x3 confusion census (chance mass summed
    over DIAGONAL classes only — the classic kappa subtlety, spelled
    via an explicit marginal self-join keyed on the class); reported
    as the sign-split magnitude floor (kappa can be negative —
    worse-than-chance agreement — and Spark div truncates while
    DuckDB // floors, the house rule). Operand audit: N^2 <= 2.3e12
    at sf1 — HUGEINT/DECIMAL38 carried with room through sf10000.

    Plan at 100 TB: ONE map-side-combined 9-cell confusion census,
    two 3-row marginal folds, a scalar cross — the scan is the
    entire cost."""
    c = cents("o_totalprice")
    rated = t(spark, sf_dir, "orders").select(
        F.when(c < 10000000, 0).when(c < 30000000, 1).otherwise(2).alias("ra"),
        F.expr(
            "CASE WHEN SUBSTRING(o_orderpriority, 1, 1) IN ('1', '2')"
            " THEN 2 WHEN SUBSTRING(o_orderpriority, 1, 1) = '3' THEN 1"
            " ELSE 0 END"
        ).alias("rb"),
    )
    conf = rated.groupBy("ra", "rb").agg(
        F.count("*").cast(D38).alias("cnt")
    )
    # 3 consumers
    conf = pin(conf, "q_stats_cohen_kappa.conf")
    tot = conf.agg(
        F.sum("cnt").cast(D38).alias("n"),
        F.sum(F.when(F.col("ra") == F.col("rb"), F.col("cnt")).otherwise(0))
        .cast(D38)
        .alias("agree"),
    )
    rt = conf.groupBy("ra").agg(F.sum("cnt").cast(D38).alias("t_a"))
    ct = conf.groupBy("rb").agg(F.sum("cnt").cast(D38).alias("t_b"))
    diag = (
        rt.join(ct, rt["ra"] == ct["rb"])
        .agg(F.sum(F.col("t_a") * F.col("t_b")).cast(D38).alias("pe_x"))
    )
    out = tot.crossJoin(F.broadcast(diag))
    knum = F.expr("n * agree - pe_x")
    return out.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("agree").cast("bigint").alias("n_agree"),
        F.col("pe_x").cast("bigint").alias("chance_x_n2"),
        (
            F.when(knum < 0, -1).otherwise(1)
            * F.expr(
                "(ABS(n * agree - pe_x) * 1000000)"
                " div GREATEST(n * n - pe_x, CAST(1 AS decimal(38,0)))"
            )
        )
        .cast("bigint")
        .alias("kappa_e6"),
        (knum > 0).alias("beyond_chance"),
    )


@register(
    "q_stats_cronbach_alpha",
    oracle=f"""
    WITH {_FRIEDMAN_CELLS_SQL},
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM complete),
    items AS (
        SELECT CAST(SUM(vi) AS HUGEINT) AS sum_vi
        FROM (
            SELECT g,
                   (SELECT n FROM nn)
                     * CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT)
                     - CAST(SUM(v) AS HUGEINT) * CAST(SUM(v) AS HUGEINT)
                     AS vi
            FROM c2 GROUP BY g
        ) per_item
    ),
    totals AS (
        SELECT (SELECT n FROM nn)
                 * CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT)
                 - CAST(SUM(t) AS HUGEINT) * CAST(SUM(t) AS HUGEINT)
                 AS v_tot
        FROM (SELECT d, CAST(SUM(v) AS HUGEINT) AS t
              FROM c2 GROUP BY d) rows_
    )
    SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_cases,
           CAST({FRIEDMAN_K} AS BIGINT) AS k,
           CAST(i.sum_vi AS BIGINT) AS sum_item_var_x,
           CAST(t.v_tot AS BIGINT) AS total_var_x,
           CAST((CASE WHEN t.v_tot - i.sum_vi < 0 THEN -1 ELSE 1 END)
                * (({FRIEDMAN_K} * ABS(t.v_tot - i.sum_vi) * 1000000)
                   // GREATEST({FRIEDMAN_K - 1} * t.v_tot, 1)) AS BIGINT)
             AS alpha_e6,
           {FRIEDMAN_K} * (t.v_tot - i.sum_vi) * 10
             > {FRIEDMAN_K - 1} * t.v_tot * 7 AS reliable
    FROM items i CROSS JOIN totals t
    """,
    tags=("M2", "M14"),
)
def q_stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRONBACH'S ALPHA (1951) — internal-consistency reliability:
    do the five event-type daily revenues move together enough to be
    read as one composite "daily activity" scale? THE standard
    reliability coefficient for any composite score (multi-item
    surveys, multi-sensor indices, ensemble feature groups), and a
    new flavor for the M14 pack: a VARIANCE-DECOMPOSITION statistic
    (items-vs-total) on the same complete-day blocked frame Friedman
    ranks. alpha = k/(k-1) * (1 - sum_i Var_i / Var_total), with
    Var_total taken over the day's item SUM.

    Exactness: population variances multiplied through by n^2 —
    V = n*sum(x^2) - (sum x)^2 stays an EXACT integer per item and
    for the totals (HUGEINT/DECIMAL38: daily cent-sums square past
    BIGINT from sf1), so alpha is the exact rational
    k*(V_tot - sum V_i) / ((k-1)*V_tot), reported as the sign-split
    magnitude floor (alpha < 0 happens when items anti-covary, and
    Spark div truncates while DuckDB // floors — the house rule);
    the reliable verdict (alpha > 0.7, the conventional bar) is a
    CROSS-MULTIPLIED integer comparison, no float. Operand audit:
    n*sum(x^2) ~ 4e20 at sf1, ~4e24 at sf100 — inside 38 digits for
    the alpha chain itself; the RAW reporting columns
    sum_item_var_x / total_var_x are BIGINT-valid through sf1 and
    would need e6-scaled reporting beyond (stated — the verdict and
    alpha_e6 never leave DECIMAL38).

    Plan at 100 TB: the Friedman census plan — one (day, type)
    census off a single fact scan, two tiny variance folds over the
    <= 31x5 frame, a scalar cross; 100x the data changes the census
    sums only."""
    cell, complete = _friedman_blocks(spark, sf_dir)
    # 3 consumers
    c2 = pin(cell.join(complete, "d"), "q_stats_cronbach_alpha.c2")
    nn = complete.agg(F.count("*").cast(D38).alias("n"))
    per_item = (
        c2.groupBy("g")
        .agg(
            F.sum(F.col("v").cast(D38) * F.col("v")).cast(D38).alias("sx2"),
            F.sum("v").cast(D38).alias("sx"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            (
                F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
            )
            .cast(D38)
            .alias("vi")
        )
    )
    items = per_item.agg(F.sum("vi").cast(D38).alias("sum_vi"))
    totals = (
        c2.groupBy("d")
        .agg(F.sum("v").cast(D38).alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t")).cast(D38).alias("st2"),
            F.sum("t").cast(D38).alias("st"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            (F.col("n") * F.col("st2") - F.col("st") * F.col("st"))
            .cast(D38)
            .alias("v_tot"),
            F.col("n"),
        )
    )
    out = items.crossJoin(F.broadcast(totals))
    k, k1 = FRIEDMAN_K, FRIEDMAN_K - 1
    anum = F.expr("v_tot - sum_vi")
    return out.select(
        F.col("n").cast("bigint").alias("n_cases"),
        F.lit(k).cast("bigint").alias("k"),
        F.col("sum_vi").cast("bigint").alias("sum_item_var_x"),
        F.col("v_tot").cast("bigint").alias("total_var_x"),
        (
            F.when(anum < 0, -1).otherwise(1)
            * F.expr(
                f"({k} * ABS(v_tot - sum_vi) * 1000000)"
                f" div GREATEST({k1} * v_tot, CAST(1 AS decimal(38,0)))"
            )
        )
        .cast("bigint")
        .alias("alpha_e6"),
        F.expr(
            f"{k} * (v_tot - sum_vi) * 10 > {k1} * v_tot * 7"
        ).alias("reliable"),
    )


@register(
    "q_stats_brunner_munzel",
    oracle=f"""
    WITH {_FO_PV_SQL},
    pos AS (
        SELECT v, ca, t, t - ca AS cb,
               SUM(t) OVER w - t AS cum,
               SUM(ca) OVER w - ca AS cumf,
               SUM(t - ca) OVER w - (t - ca) AS cumo
        FROM pv
        WINDOW w AS (ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    cells AS (
        SELECT ca, cb,
               2 * cum + t + 1 AS r2,
               2 * cumo + cb AS p2f,
               2 * cumf + ca AS p2o
        FROM pos
    ),
    agg AS (
        SELECT CAST(SUM(ca) AS HUGEINT) AS n1,
               CAST(SUM(cb) AS HUGEINT) AS n2,
               CAST(SUM(cb * r2) AS HUGEINT) AS sr2o,
               CAST(SUM(ca * p2f) AS HUGEINT) AS spf,
               CAST(SUM(cb * p2o) AS HUGEINT) AS spo,
               CAST(SUM(ca * p2f * p2f) AS HUGEINT) AS spf2,
               CAST(SUM(cb * p2o * p2o) AS HUGEINT) AS spo2
        FROM cells
    ),
    fin AS (
        SELECT n1, n2, sr2o,
               sr2o - n2 * (n1 + n2 + 1) AS u,
               n1 * spf2 - spf * spf AS vx1,
               n2 * spo2 - spo * spo AS vx2
        FROM agg
    ),
    vr AS (
        SELECT n1, n2, sr2o, u,
               GREATEST(vx1 * (n2 - 1) + vx2 * (n1 - 1), 1) AS vx
        FROM fin
    )
    SELECT CAST(n1 AS BIGINT) AS n_f, CAST(n2 AS BIGINT) AS n_o,
           CAST(u AS BIGINT) AS u_x2,
           CAST(((sr2o - n2 * (n2 + 1)) * 1000000) // (2 * n1 * n2)
                AS BIGINT) AS phat_e6,
           CAST((u * u * (n1 - 1) * (n2 - 1) * 1000) // vx AS BIGINT)
             AS z2_e3,
           (u * u * (n1 - 1) * (n2 - 1) * 1000) // vx > 3841
             AS significant
    FROM vr
    """,
    tags=("M2", "M14"),
)
def q_stats_brunner_munzel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRUNNER-MUNZEL test (2000) — the rank-based BEHRENS-FISHER
    solution: Mann-Whitney's null is "identical distributions", so
    under unequal variances MW rejects for spread differences it was
    never meant to detect; BM tests the pure stochastic-equality null
    P(X<Y) + P(X=Y)/2 = 1/2 with a variance estimated from each
    group's PLACEMENTS (pooled rank minus within-group rank) — the
    modern recommended default for two-sample rank comparison,
    completing the unequal-variance corner beside
    q_stats_games_howell (parametric) exactly as MW completes the
    equal-variance one.

    Exactness — two load-bearing identities: (1) placements come FREE
    from the census: a cell's doubled placement is
    p2_F = 2*cumO_before + cb (opposite-group mass below), so both
    groups' placement sums/squares fold in the SAME single window
    pass as the pooled midranks; (2) the mean-rank difference
    n1*SR2_2 - n2*SR2_1 = N * U (since SR2_1 + SR2_2 = N(N+1)), so
    the N^2 in T^2's numerator CANCELS against the N^2 in its
    denominator — without this the cross-multiplication overflows 38
    digits already at sf0.1; with it, z^2 = U^2 (n1-1)(n2-1) / VX
    with VX = Vx1(n2-1) + Vx2(n1-1), Vx_g = n_g*sum(t_g p2^2) -
    (sum t_g p2)^2 — every operand inside 38 digits through sf1
    (U^2 ~ 3e23, x(n-1)(n-1) ~ 1.8e35, VX ~ 9.5e28). The e3 verdict
    is one staged floor vs chi-square df=1 (3841; the small-sample t
    approximation BM recommend is a stated large-N omission). Effect
    size phat = P(F<O) + P(F=O)/2 reported as a non-negative e6
    floor. Degenerate all-tied VX = 0 guarded to 1.

    Plan at 100 TB: the KS/AB/Lepage census shape exactly — one
    map-side-combined value census, ONE window pass carrying three
    running sums, a 1-row aggregate; the fact table is scanned
    once."""
    wcum = _running_by_v()
    pos = _fo_census(spark, sf_dir).select(
        "ca",
        "t",
        (F.col("t") - F.col("ca")).alias("cb"),
        (F.sum("t").over(wcum) - F.col("t")).alias("cum"),
        (F.sum("ca").over(wcum) - F.col("ca")).alias("cumf"),
        (
            F.sum(F.col("t") - F.col("ca")).over(wcum)
            - (F.col("t") - F.col("ca"))
        ).alias("cumo"),
    )
    cells = pos.select(
        "ca",
        "cb",
        (2 * F.col("cum") + F.col("ca") + F.col("cb") + 1).alias("r2"),
        (2 * F.col("cumo") + F.col("cb")).alias("p2f"),
        (2 * F.col("cumf") + F.col("ca")).alias("p2o"),
    )
    agg = cells.agg(
        F.sum("ca").cast(D38).alias("n1"),
        F.sum("cb").cast(D38).alias("n2"),
        F.sum(F.col("cb") * F.col("r2")).cast(D38).alias("sr2o"),
        F.sum(F.col("ca") * F.col("p2f")).cast(D38).alias("spf"),
        F.sum(F.col("cb") * F.col("p2o")).cast(D38).alias("spo"),
        F.sum(F.col("ca") * F.col("p2f") * F.col("p2f"))
        .cast(D38)
        .alias("spf2"),
        F.sum(F.col("cb") * F.col("p2o") * F.col("p2o"))
        .cast(D38)
        .alias("spo2"),
    )
    fin = agg.select(
        "n1",
        "n2",
        "sr2o",
        (F.col("sr2o") - F.col("n2") * (F.col("n1") + F.col("n2") + 1))
        .cast(D38)
        .alias("u"),
        (F.col("n1") * F.col("spf2") - F.col("spf") * F.col("spf"))
        .cast(D38)
        .alias("vx1"),
        (F.col("n2") * F.col("spo2") - F.col("spo") * F.col("spo"))
        .cast(D38)
        .alias("vx2"),
    )
    vr = fin.select(
        "n1",
        "n2",
        "sr2o",
        "u",
        F.expr(
            "GREATEST(vx1 * (n2 - 1) + vx2 * (n1 - 1),"
            " CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("vx"),
    )
    z2 = F.expr(
        "(CAST(u AS decimal(38,0)) * u * (n1 - 1) * (n2 - 1) * 1000)"
        " div vx"
    )
    return vr.select(
        F.col("n1").cast("bigint").alias("n_f"),
        F.col("n2").cast("bigint").alias("n_o"),
        F.col("u").cast("bigint").alias("u_x2"),
        F.expr(
            "((sr2o - n2 * (n2 + 1)) * 1000000) div (2 * n1 * n2)"
        )
        .cast("bigint")
        .alias("phat_e6"),
        z2.cast("bigint").alias("z2_e3"),
        (z2 > F.lit(3841)).alias("significant"),
    )


@register(
    "q_stats_eta_squared",
    oracle=f"""
    WITH {_events_x("cents")},
    {_GRP_SQL},
    {_oneway_ss_sql("n, s, q")}
    SELECT CAST(nn AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           CAST((ssb_e6 * 1000000)
                // GREATEST(ssb_e6 + ssw_e6, 1) AS BIGINT) AS eta2_e6,
           CAST((CASE WHEN ssb_e6 * (nn - k) - (k - 1) * ssw_e6 < 0
                      THEN -1 ELSE 1 END)
                * ((ABS(ssb_e6 * (nn - k) - (k - 1) * ssw_e6) * 1000000)
                   // GREATEST((ssb_e6 + ssw_e6) * (nn - k) + ssw_e6, 1))
                AS BIGINT) AS omega2_e6,
           (ssb_e6 * 1000000) // GREATEST(ssb_e6 + ssw_e6, 1) > 10000
             AS meaningful
    FROM fin
    """,
    tags=("M2", "M14"),
)
def q_stats_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ETA-SQUARED + OMEGA-SQUARED — the EFFECT SIZES for
    q_stats_anova's verdict (the test/effect pairing discipline,
    closing the last unpaired omnibus: chi2->V, MW->AUC, CMH->OR_MH,
    Friedman->W, now ANOVA->eta2/omega2): eta2 = SSB/SST is the
    variance fraction the grouping explains (the R^2 of the one-way
    design, biased upward in small samples); omega2 =
    (SSB - (k-1)MSW)/(SST + MSW) is its unbiased correction — CAN go
    negative when F < 1, which is exactly why it is reported
    sign-split.

    Exactness: SSB_e6/SSW_e6 are q_stats_anova's (``_oneway_ss``),
    then BOTH effect sizes are defined ON the
    e6-fixed quantities (the pinned-chain convention: deterministic,
    identical in both engines): eta2_e6 one non-negative floor;
    omega2 multiplied through by (N-k) to
    (SSB(N-k) - (k-1)SSW)/((SST)(N-k) + SSW) — one sign-split floor,
    zero new division. The meaningful flag is the conventional
    eta2 > 0.01 smallest-effect bar, cross-multiplied. Operand
    audit: SST_e6*(N-k) ~ 2e25 at sf1 — inside 38 digits through
    sf100.

    Plan at 100 TB: the ANOVA plan exactly — one map-side-combined
    5-row census, arithmetic on a 5-row frame, the fact table
    scanned once; at scale this query and q_stats_anova share one
    census pass."""
    fin = _oneway_ss(_type_moments(spark, sf_dir))
    onum = F.expr("ssb_e6 * (nn - k) - (k - 1) * ssw_e6")
    eta = F.expr(
        "(ssb_e6 * 1000000)"
        " div GREATEST(ssb_e6 + ssw_e6, CAST(1 AS decimal(38,0)))"
    )
    return fin.select(
        F.col("nn").cast("bigint").alias("n"),
        F.col("k").cast("bigint").alias("k"),
        eta.cast("bigint").alias("eta2_e6"),
        (
            F.when(onum < 0, -1).otherwise(1)
            * F.expr(
                "(ABS(ssb_e6 * (nn - k) - (k - 1) * ssw_e6) * 1000000)"
                " div GREATEST((ssb_e6 + ssw_e6) * (nn - k) + ssw_e6,"
                " CAST(1 AS decimal(38,0)))"
            )
        )
        .cast("bigint")
        .alias("omega2_e6"),
        (eta > F.lit(10000)).alias("meaningful"),
    )


@register(
    "q_stats_partial_corr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                 AS x,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    seq AS (
        SELECT x, y,
               CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS z
        FROM daily
    ),
    sums AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(z) AS HUGEINT) AS sz,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
               CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
        FROM seq
    ),
    c AS (
        SELECT n,
               n * sxx - sx * sx AS cxx,
               n * syy - sy * sy AS cyy,
               n * szz - sz * sz AS czz,
               n * sxy - sx * sy AS cxy,
               n * sxz - sx * sz AS cxz,
               n * syz - sy * sz AS cyz
        FROM sums
    ),
    p AS (
        SELECT n, cxy, cxx, cyy,
               cxy * czz - cxz * cyz AS np,
               GREATEST(cxx * czz - cxz * cxz, 1) AS d1,
               GREATEST(cyy * czz - cyz * cyz, 1) AS d2
        FROM c
    ),
    st AS (
        SELECT n, cxy, cxx, cyy, np, d1, d2,
               (ABS(np) * 1000000000) // d1 AS a_e9
        FROM p
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST((CASE WHEN cxy < 0 THEN -1 ELSE 1 END)
                * ((cxy * cxy * 1000000)
                   // GREATEST(cxx * cyy, 1)) AS BIGINT)
             AS r2_xy_signed_e6,
           CAST((CASE WHEN np < 0 THEN -1 ELSE 1 END)
                * ((a_e9 * a_e9 * d1) // (d2 * 1000000000000))
                AS BIGINT) AS r2_partial_signed_e6,
           (CASE WHEN np < 0 THEN -1 ELSE 1 END)
             * ((a_e9 * a_e9 * d1) // (d2 * 1000000000000)) > 90000
             AS partial_corr_meaningful
    FROM st
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTIAL CORRELATION r_xy.z — is daily revenue correlated with
    daily event volume NET OF the shared time trend? The classic
    confounder-removal question (two series both drifting upward
    correlate spuriously; partialling out the day index z asks what
    co-movement remains), the continuous sibling of q_stats_cmh's
    stratified adjustment. Identity used:
    r_xy.z = (Cxy*Czz - Cxz*Cyz) / sqrt((Cxx*Czz - Cxz^2)(Cyy*Czz -
    Cyz^2)) with C_ab = n*S_ab - S_a*S_b — every C is an EXACT
    integer off one pass of nine sums.

    Exactness — a documented STAGED chain (N_p^2 alone would pass 38
    digits already at sf0.1, so the square is taken on a reduced
    stage): a_e9 = |N_p|*1e9 div D1 (quotient ~ |r_p|*sqrt(D2/D1)*1e9
    — bounded ~1e5 here since x-cents dominate y-counts, nowhere
    near the int64 wrap), then r_p^2_e6 = a_e9^2 * D1 div (D2*1e12)
    — algebraically N_p^2*1e6/(D1*D2) with resolution ~2r^2/a_e9
    (pinned convention, identical floors both engines). The sign
    (D1, D2 >= 0 by Cauchy-Schwarz) rides separately, house
    sign-split. The raw r_xy^2 is the direct cross-multiplication
    (operands inside 38 digits through sf1, stated). Verdict:
    |r_p| > 0.3 as r_p^2_e6 > 90000 on the staged value (stated).

    Plan at 100 TB: one (day) census off the fact scan, a 31-row
    ROW_NUMBER window, one 1-row nine-sum aggregate — the frame is
    CALENDAR-bounded; scale changes the census sums only."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(cents("value"))
            .cast("bigint")
            .alias("x"),
            F.count("*").cast("bigint").alias("y"),
        )
    )
    seq = daily.select(
        "x",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("z"),
    )
    c = moment_census(seq, ["x", "y", "z"]).select(
        "n",
        *[
            comoment(a, b).cast(D38).alias(f"c{a}{b}")
            for a, b in ("xx", "yy", "zz", "xy", "xz", "yz")
        ],
    )
    p = c.select(
        "n",
        "cxy",
        "cxx",
        "cyy",
        F.expr("cxy * czz - cxz * cyz").cast(D38).alias("np"),
        F.expr(
            "GREATEST(cxx * czz - cxz * cxz, CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("d1"),
        F.expr(
            "GREATEST(cyy * czz - cyz * cyz, CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("d2"),
    )
    st = p.select(
        "n",
        "cxy",
        "cxx",
        "cyy",
        "np",
        "d1",
        "d2",
        F.expr("(ABS(np) * 1000000000) div d1").cast(D38).alias("a_e9"),
    )
    rp2 = F.expr("(a_e9 * a_e9 * d1) div (d2 * 1000000000000)")
    return st.select(
        F.col("n").cast("bigint").alias("n_days"),
        (
            F.when(F.col("cxy") < 0, -1).otherwise(1)
            * F.expr(
                "(cxy * cxy * 1000000)"
                " div GREATEST(cxx * cyy, CAST(1 AS decimal(38,0)))"
            )
        )
        .cast("bigint")
        .alias("r2_xy_signed_e6"),
        (F.when(F.col("np") < 0, -1).otherwise(1) * rp2)
        .cast("bigint")
        .alias("r2_partial_signed_e6"),
        (
            (F.when(F.col("np") < 0, -1).otherwise(1) * rp2)
            > F.lit(90000)
        ).alias("partial_corr_meaningful"),
    )


@register(
    "q_stats_point_biserial",
    oracle="""
    WITH x AS (
        SELECT event_type AS g,
               CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS treat,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v
        FROM events
    ),
    grp AS (
        SELECT g,
               CAST(SUM(treat) AS HUGEINT) AS n1,
               CAST(COUNT(*) - SUM(treat) AS HUGEINT) AS n0,
               CAST(SUM(CASE WHEN treat = 1 THEN v ELSE 0 END)
                    AS HUGEINT) AS s1,
               CAST(SUM(CASE WHEN treat = 0 THEN v ELSE 0 END)
                    AS HUGEINT) AS s0,
               CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
        FROM x GROUP BY g
    ),
    c AS (
        SELECT g, n1, n0, n1 + n0 AS n,
               n0 * s1 - n1 * s0 AS num,
               GREATEST(n1 * n0 * ((n1 + n0) * q
                        - (s1 + s0) * (s1 + s0)), 1) AS den
        FROM grp
    )
    SELECT g AS event_type,
           CAST(n1 AS BIGINT) AS n_treat, CAST(n0 AS BIGINT) AS n_control,
           CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                * ((num * num * 1000000) // den) AS BIGINT)
             AS r2_pb_signed_e6,
           CAST((num * num * (n - 2) * 1000)
                // GREATEST(den - num * num, 1) AS BIGINT) AS t2_e3,
           (num * num * (n - 2) * 1000)
             // GREATEST(den - num * num, 1) > 3841 AS significant
    FROM c ORDER BY event_type
    """,
    tags=("M2", "M14"),
)
def q_stats_point_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-BISERIAL CORRELATION r_pb — the EFFECT SIZE for the
    binary-vs-continuous design (q_ab_test's t verdict answers "is
    there a difference"; r_pb answers "how much of the value variance
    does the treatment flag explain"), per event_type on the same
    even-user treatment split as MW/Brunner-Munzel. r_pb IS the
    Pearson correlation of (treat, value), and its square relates to
    the pooled t by t^2 = r^2(n-2)/(1-r^2) — both reported.

    Exactness — pure integers via the multiply-through:
    r_pb^2 = (n0*S1 - n1*S0)^2 / (n1*n0*(n*Q - S^2)) (numerator =
    the mean gap cross-multiplied, denominator = group-size weight x
    n^2-scaled population variance; every factor exact HUGEINT), one
    sign-split e6 floor. The t^2 verdict multiplies through the SAME
    rational: t^2 = A(n-2)/(B - A) with A = num^2, B = den, judged
    as one staged e3 floor vs chi-square df=1 (3841 — large-n normal
    limit of the t, stated). Operand audit: A*(n-2)*1000 ~ 6.4e37
    per type at sf0.1 (stated bound; the e3 scale shrinks beyond —
    the q_stats_ansari_bradley bound style).

    Plan at 100 TB: ONE map-side-combined 5-row census (five
    conditional sums per type), arithmetic on the 5-row frame — the
    q_stats_anova shape; the fact table is scanned once."""
    x = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("treat"),
        cents("value").alias("v"),
    )
    grp = x.groupBy("g").agg(
        F.sum("treat").cast(D38).alias("n1"),
        (F.count("*") - F.sum("treat")).cast(D38).alias("n0"),
        F.sum(F.when(F.col("treat") == 1, F.col("v")).otherwise(0))
        .cast(D38)
        .alias("s1"),
        F.sum(F.when(F.col("treat") == 0, F.col("v")).otherwise(0))
        .cast(D38)
        .alias("s0"),
        F.sum(F.col("v").cast(D38) * F.col("v")).cast(D38).alias("q"),
    )
    c = grp.select(
        "g",
        "n1",
        "n0",
        (F.col("n1") + F.col("n0")).cast(D38).alias("n"),
        (F.col("n0") * F.col("s1") - F.col("n1") * F.col("s0"))
        .cast(D38)
        .alias("num"),
        F.expr(
            "GREATEST(n1 * n0 * ((n1 + n0) * q"
            " - (s1 + s0) * (s1 + s0)), CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("den"),
    )
    t2 = F.expr(
        "(CAST(num AS decimal(38,0)) * num * (n - 2) * 1000)"
        " div GREATEST(den - num * num, CAST(1 AS decimal(38,0)))"
    )
    return c.select(
        F.col("g").alias("event_type"),
        F.col("n1").cast("bigint").alias("n_treat"),
        F.col("n0").cast("bigint").alias("n_control"),
        (
            F.when(F.col("num") < 0, -1).otherwise(1)
            * F.expr("(CAST(num AS decimal(38,0)) * num * 1000000) div den")
        )
        .cast("bigint")
        .alias("r2_pb_signed_e6"),
        t2.cast("bigint").alias("t2_e3"),
        (t2 > F.lit(3841)).alias("significant"),
    )


@register(
    "q_stats_durbin_watson",
    oracle=f"""
    WITH {_daily_sql("y")},
    seq AS (
        SELECT g, y,
               CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY d)
                    AS BIGINT) AS tt
        FROM daily
    ),
    fit AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(COUNT(*) * SUM(tt * y) - SUM(tt) * SUM(y)
                    AS HUGEINT) AS b_num,
               CAST(SUM(y) * SUM(tt * tt) - SUM(tt) * SUM(tt * y)
                    AS HUGEINT) AS a_num,
               CAST(COUNT(*) * SUM(tt * tt) - SUM(tt) * SUM(tt)
                    AS HUGEINT) AS den
        FROM seq GROUP BY g
    ),
    resid AS (
        SELECT s.g,
               f.den * s.y - f.a_num - f.b_num * s.tt AS e,
               s.tt
        FROM seq s JOIN fit f ON f.g = s.g
    ),
    diffs AS (
        SELECT g, e,
               e - LAG(e) OVER (PARTITION BY g ORDER BY tt) AS de
        FROM resid
    ),
    agg AS (
        SELECT g,
               CAST(SUM(de * de) AS HUGEINT) AS dw_num,
               GREATEST(CAST(SUM(e * e) AS HUGEINT), 1) AS dw_den,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM diffs GROUP BY g
    )
    SELECT g AS event_type, n_days,
           CAST((dw_num * 1000000) // dw_den AS BIGINT) AS dw_e6,
           CASE WHEN dw_num * 10 < dw_den * 15 THEN 'positive'
                WHEN dw_num * 10 > dw_den * 25 THEN 'negative'
                ELSE 'none' END AS autocorrelation
    FROM agg ORDER BY event_type
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DURBIN-WATSON statistic (1950) — serial correlation of
    REGRESSION residuals, the diagnostic that decides whether an OLS
    trend fit's standard errors can be believed (positively
    autocorrelated residuals make trends look significant that
    aren't): per event_type, fit y_t = a + b*t on the daily cent-sum
    series and compute DW = sum((e_t - e_(t-1))^2) / sum(e_t^2).
    Complements q_ts_ljung_box (which diagnoses the RAW series over
    many lags) with the classic single-statistic residual check at
    lag 1, and closes the regression-diagnostics loop over the same
    Cramer OLS machinery as q_ts_granger.

    Exactness: the residual is carried SCALED — with Cramer
    denominators den = n*St2 - St^2 and numerators a_num/b_num, the
    integer E_t = den*y_t - a_num - b_num*t equals den*e_t exactly,
    and den^2 CANCELS in DW's ratio — so DW is an exact rational of
    HUGEINT/DECIMAL38 sums (E^2 ~ 3.6e25 at sf1, inside 38 digits
    through sf100); one non-negative e6 floor (both sums are squares
    — zero sign hazard). The positive/none/negative call uses the
    conventional 1.5/2.5 screening bounds CROSS-MULTIPLIED (the
    exact dL/dU tables vary with n and are a stated omission —
    DW ~ 2(1-rho) makes these bounds the standard quick screen).

    Plan at 100 TB: one (type, day) census off the fact scan, a
    31-row-per-type window pair (row_number + lag), one 5-row
    aggregate; calendar-bounded — scale changes the census sums
    only."""
    daily = _type_day_sums(spark, sf_dir).withColumnRenamed("v", "y")
    wseq = Window.partitionBy("g").orderBy("d")
    # two consumers: fit + residual join
    seq = pin(
        daily.select(
            "g", "y", F.row_number().over(wseq).cast("bigint").alias("tt")
        ),
        "q_stats_durbin_watson.seq",
    )
    fit = seq.groupBy("g").agg(
        F.count("*").cast(D38).alias("n"),
        (
            F.count("*") * F.sum(F.col("tt") * F.col("y"))
            - F.sum("tt") * F.sum("y")
        )
        .cast(D38)
        .alias("b_num"),
        (
            F.sum("y") * F.sum(F.col("tt") * F.col("tt"))
            - F.sum("tt") * F.sum(F.col("tt") * F.col("y"))
        )
        .cast(D38)
        .alias("a_num"),
        (
            F.count("*") * F.sum(F.col("tt") * F.col("tt"))
            - F.sum("tt") * F.sum("tt")
        )
        .cast(D38)
        .alias("den"),
    )
    resid = seq.join(F.broadcast(fit), "g").select(
        "g",
        "tt",
        (
            F.col("den") * F.col("y")
            - F.col("a_num")
            - F.col("b_num") * F.col("tt")
        )
        .cast(D38)
        .alias("e"),
    )
    wlag = Window.partitionBy("g").orderBy("tt")
    diffs = resid.select(
        "g", "e", (F.col("e") - F.lag("e").over(wlag)).alias("de")
    )
    agg = diffs.groupBy("g").agg(
        F.sum(F.col("de") * F.col("de")).cast(D38).alias("dw_num"),
        F.expr(
            "GREATEST(CAST(SUM(e * e) AS decimal(38,0)),"
            " CAST(1 AS decimal(38,0)))"
        ).alias("dw_den"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    return agg.select(
        F.col("g").alias("event_type"),
        "n_days",
        F.expr("(dw_num * 1000000) div dw_den")
        .cast("bigint")
        .alias("dw_e6"),
        F.expr(
            "CASE WHEN dw_num * 10 < dw_den * 15 THEN 'positive'"
            " WHEN dw_num * 10 > dw_den * 25 THEN 'negative'"
            " ELSE 'none' END"
        ).alias("autocorrelation"),
    )


@register(
    "q_stats_turning_points",
    oracle=f"""
    WITH {_daily_sql("y")},
    lagged AS (
        SELECT g, y,
               LAG(y) OVER (PARTITION BY g ORDER BY d) AS yp,
               LEAD(y) OVER (PARTITION BY g ORDER BY d) AS yn
        FROM daily
    ),
    agg AS (
        SELECT g,
               CAST(SUM(CASE WHEN yp IS NOT NULL AND yn IS NOT NULL
                             AND ((y > yp AND y > yn)
                                  OR (y < yp AND y < yn))
                        THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lagged GROUP BY g
    )
    SELECT g AS event_type, n AS n_days, tp AS n_turning_points,
           CAST(3 * tp - 2 * (n - 2) AS BIGINT) AS dev_x3,
           CAST(((3 * tp - 2 * (n - 2)) * (3 * tp - 2 * (n - 2)) * 10000)
                // (16 * n - 29) AS BIGINT) AS z2_e3,
           ((3 * tp - 2 * (n - 2)) * (3 * tp - 2 * (n - 2)) * 10000)
             // (16 * n - 29) > 3841 AS nonrandom
    FROM agg ORDER BY event_type
    """,
    tags=("M2", "M14", "D10"),
)
def q_stats_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TURNING-POINT TEST (Kendall's randomness check) — does the
    daily series zig-zag like noise or move in sustained runs? A
    local extremum at t (strictly higher or strictly lower than both
    neighbors — ties excluded, stated; cent-sums make them
    measure-zero) is a "turning point"; under i.i.d. randomness
    E(T) = 2(n-2)/3 and Var(T) = (16n-29)/90. TOO FEW turning points
    = momentum/trending (the MK/DW family's signal); TOO MANY =
    oscillation faster than noise (negative autocorrelation) — the
    cheapest member of the serial-structure battery beside
    q_stats_runs_test (level runs), q_stats_durbin_watson (residual
    lag-1) and q_ts_ljung_box (multi-lag).

    Exactness — the smallest chain in the pack: T is an exact count
    off one lag/lead window; the verdict multiplies
    z^2 = (T - E)^2/Var through to
    (3T - 2(n-2))^2 * 10000 div (16n - 29) in e3 units (the 9 in
    (3T-2(n-2))^2/9 folds against 90/9 = 10) — every operand fits
    int32, let alone BIGINT. Deviation sign reported (dev_x3 < 0 =
    trending, > 0 = oscillating).

    Plan at 100 TB: one (type, day) census, one lag+lead window over
    the 31-row-per-type frame, a 5-row aggregate — calendar-bounded
    like the whole D10 diagnostics family."""
    daily = _type_day_sums(spark, sf_dir).withColumnRenamed("v", "y")
    w = Window.partitionBy("g").orderBy("d")
    lagged = daily.select(
        "g",
        "y",
        F.lag("y").over(w).alias("yp"),
        F.lead("y").over(w).alias("yn"),
    )
    agg = lagged.groupBy("g").agg(
        F.sum(
            F.when(
                F.col("yp").isNotNull()
                & F.col("yn").isNotNull()
                & (
                    ((F.col("y") > F.col("yp")) & (F.col("y") > F.col("yn")))
                    | ((F.col("y") < F.col("yp")) & (F.col("y") < F.col("yn")))
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tp"),
        F.count("*").cast("bigint").alias("n"),
    )
    dev = F.expr("3 * tp - 2 * (n - 2)")
    z2 = F.expr(
        "((3 * tp - 2 * (n - 2)) * (3 * tp - 2 * (n - 2)) * 10000)"
        " div (16 * n - 29)"
    )
    return agg.select(
        F.col("g").alias("event_type"),
        F.col("n").alias("n_days"),
        F.col("tp").alias("n_turning_points"),
        dev.cast("bigint").alias("dev_x3"),
        z2.cast("bigint").alias("z2_e3"),
        (z2 > F.lit(3841)).alias("nonrandom"),
    )


@register(
    "q_stats_mahalanobis",
    oracle="""
    WITH x AS (
        SELECT event_type AS g,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cx,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS cy
        FROM events
    ),
    model AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(cx) AS HUGEINT) AS sx,
               CAST(SUM(cy) AS HUGEINT) AS sy,
               CAST(COUNT(*) * SUM(CAST(cx AS HUGEINT) * cx)
                    - SUM(cx) * SUM(cx) AS HUGEINT) AS cxx,
               CAST(COUNT(*) * SUM(CAST(cy AS HUGEINT) * cy)
                    - SUM(cy) * SUM(cy) AS HUGEINT) AS cyy,
               CAST(COUNT(*) * SUM(CAST(cx AS HUGEINT) * cy)
                    - SUM(cx) * SUM(cy) AS HUGEINT) AS cxy
        FROM x GROUP BY g
    ),
    scored AS (
        SELECT x.g,
               m.cyy * (m.n * x.cx - m.sx) * (m.n * x.cx - m.sx)
                 - 2 * m.cxy * (m.n * x.cx - m.sx) * (m.n * x.cy - m.sy)
                 + m.cxx * (m.n * x.cy - m.sy) * (m.n * x.cy - m.sy)
                 AS qf,
               GREATEST(m.cxx * m.cyy - m.cxy * m.cxy, 1) AS det
        FROM x JOIN model m ON m.g = x.g
    )
    SELECT g AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN qf * 1000 > 5991 * det THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST((SUM(CASE WHEN qf * 1000 > 5991 * det THEN 1 ELSE 0 END)
                 * 1000000) // COUNT(*) AS BIGINT) AS outlier_rate_e6,
           CAST((MAX(qf * 1000 // det)) AS BIGINT) AS d2_max_e3
    FROM scored GROUP BY g ORDER BY g
    """,
    tags=("M2", "M14"),
)
def q_stats_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAHALANOBIS OUTLIER DETECTION — the pack's first MULTIVARIATE
    statistic: per event_type, score every (value-cents, hour-of-day)
    point against the type's own 2D covariance and flag D^2 >
    chi-square(2df, 0.05) = 5.991 — the correlation-aware outlier
    gate that coordinate-wise z-scores cannot express (a point can be
    unremarkable in each margin yet wildly off the correlation
    ridge). The data-quality companion to q_scale_skew_audit.

    Exactness — the adjugate multiply-through: with dx = n*x - Sx,
    dy = n*y - Sy and the n^2-scaled covariance entries
    C_ab = n*S_ab - S_a*S_b, the identity D^2 = (Cyy*dx^2 -
    2*Cxy*dx*dy + Cxx*dy^2) / det(C) holds EXACTLY (all the n's
    cancel: (v-mu) = d/n, Sigma^-1 = n^2 adj(C)/det) — so the
    per-row quadratic form qf and det are pure HUGEINT/DECIMAL38
    integers and the outlier verdict qf*1000 > 5991*det is
    cross-multiplied, float-free, per row. Operand audit: the verdict
    sides qf*1000 ~ 1.6e35 and 5991*det ~ 1e36 at sf0.1 — exact
    through sf0.1; at sf1 both cross 38 digits and the e3 scale
    would shrink (stated, the q_stats_ansari_bradley bound style;
    the hour column's tiny domain is what keeps Cyy manageable — a
    second wide-range feature would need staged scaling from the
    start). Degenerate collinear det = 0 guarded to 1.

    Plan at 100 TB: the TRAIN-THEN-SCORE shape — one
    map-side-combined 5-row model census, broadcast back onto a
    second fact scan for per-row scoring (two scans, stated: the
    standard two-pass anomaly pattern), outlier counts fold
    map-side."""
    x = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        cents("value").alias("cx"),
        F.hour("ts").cast("bigint").alias("cy"),
    )
    model = x.groupBy("g").agg(
        F.count("*").cast(D38).alias("n"),
        F.sum("cx").cast(D38).alias("sx"),
        F.sum("cy").cast(D38).alias("sy"),
        (
            F.count("*") * F.sum(F.col("cx").cast(D38) * F.col("cx"))
            - F.sum("cx") * F.sum("cx")
        )
        .cast(D38)
        .alias("cxx"),
        (
            F.count("*") * F.sum(F.col("cy").cast(D38) * F.col("cy"))
            - F.sum("cy") * F.sum("cy")
        )
        .cast(D38)
        .alias("cyy"),
        (
            F.count("*") * F.sum(F.col("cx").cast(D38) * F.col("cy"))
            - F.sum("cx") * F.sum("cy")
        )
        .cast(D38)
        .alias("cxy"),
    )
    scored = x.join(F.broadcast(model), "g").select(
        "g",
        F.expr(
            "cyy * (n * cx - sx) * (n * cx - sx)"
            " - 2 * cxy * (n * cx - sx) * (n * cy - sy)"
            " + cxx * (n * cy - sy) * (n * cy - sy)"
        )
        .cast(D38)
        .alias("qf"),
        F.expr(
            "GREATEST(cxx * cyy - cxy * cxy, CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("det"),
    )
    out = F.expr("qf * 1000 > 5991 * det")
    return (
        scored.groupBy("g")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(out, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
            F.expr(
                "CAST((SUM(CASE WHEN qf * 1000 > 5991 * det THEN 1"
                " ELSE 0 END) * 1000000) div COUNT(*) AS BIGINT)"
            ).alias("outlier_rate_e6"),
            F.max(F.expr("qf * 1000 div det")).cast("bigint").alias(
                "d2_max_e3"
            ),
        )
        .select(
            F.col("g").alias("event_type"),
            "n",
            "n_outliers",
            "outlier_rate_e6",
            "d2_max_e3",
        )
    )


# (z_{0.025} + z_{0.80})^2 = (1.959964 + 0.841621)^2, e6-fixed: the
# two-sided alpha=0.05 / 80%-power constant of the sample-size formula.
POWER_ZSUM2_E6 = 7_848_879


@register(
    "q_ab_power",
    oracle=f"""
    WITH {_events_x("v")},
    census AS (
        SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(v) AS HUGEINT) AS s,
               CAST(COUNT(*) * SUM(CAST(v AS HUGEINT) * v)
                    - SUM(v) * SUM(v) AS HUGEINT) AS c
        FROM x GROUP BY g
    )
    SELECT g AS event_type,
           CAST(n AS BIGINT) AS n_total,
           CAST(n // 2 AS BIGINT) AS n_per_arm_current,
           CAST(s // (50 * n) AS BIGINT) AS mde_cents,
           CAST(({5000 * POWER_ZSUM2_E6} * c + s * s * 1000000 - 1)
                // (s * s * 1000000) AS BIGINT) AS n_required_per_arm,
           n // 2 >= ({5000 * POWER_ZSUM2_E6} * c
                      + s * s * 1000000 - 1) // (s * s * 1000000)
             AS adequately_powered
    FROM census ORDER BY event_type
    """,
    tags=("M2", "M14"),
)
def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B POWER ANALYSIS — "how much data do we need?": per
    event_type, the required per-arm sample size to detect a 2%
    shift of the mean value at two-sided alpha = 0.05 with 80%
    power, n_req = 2(z_alpha/2 + z_beta)^2 sigma^2 / delta^2 —
    the question every experimentation platform answers BEFORE
    q_ab_test renders a verdict, and the planning twin of
    q_ab_sequential's interim looks.

    Exactness — the closed form collapses to ONE exact rational:
    with delta = 2% of the mean = S/(50n) and population variance
    sigma^2 = C/n^2 (C = n*Q - S^2 exact), the n^2 and the 2500
    CANCEL into n_req = 5000 * zsum^2 * C / S^2 — no mean or
    variance is ever materialized, just the e6-pinned constant
    (z_0.025 + z_0.80)^2 = 7.848879 and two census integers. The
    ceiling is the exact integer idiom (a + b - 1) div b (all
    operands positive — no floor hazard). Operand audit: 5000 *
    zsum2_e6 * C ~ 6.3e31 at sf1 — inside 38 digits through sf100.
    MDE reported in cents (the S/(50n) floor) for the reader.

    Plan at 100 TB: ONE map-side-combined 5-row census — the
    q_stats_anova scan shape; the power answer costs nothing beyond
    the moments the monitoring pass already collects."""
    census = _type_cents(spark, sf_dir, "v").groupBy("g").agg(
        F.count("*").cast(D38).alias("n"),
        F.sum("v").cast(D38).alias("s"),
        (
            F.count("*") * F.sum(F.col("v").cast(D38) * F.col("v"))
            - F.sum("v") * F.sum("v")
        )
        .cast(D38)
        .alias("c"),
    )
    # the 5000*zsum2 product is folded into ONE precomputed BIGINT
    # literal: spelled as 5000 * 7848879 both engines parse the
    # factors as INT32 and Spark silently WRAPS the product in
    # non-ANSI mode (measured: n_req came out 66.55x too small —
    # 39244395000 mod 2^32; DuckDB at least raised). Same literal in
    # the oracle.
    nreq = F.expr(
        f"({5000 * POWER_ZSUM2_E6} * c + s * s * 1000000 - 1)"
        " div (s * s * 1000000)"
    )
    return census.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n_total"),
        F.expr("n div 2").cast("bigint").alias("n_per_arm_current"),
        F.expr("s div (50 * n)").cast("bigint").alias("mde_cents"),
        nreq.cast("bigint").alias("n_required_per_arm"),
        (F.expr("n div 2") >= nreq).alias("adequately_powered"),
    )


@register(
    "q_agg_trimmed_mean",
    oracle=f"""
    WITH {_events_x("v")},
    pv AS (
        SELECT g, v, CAST(COUNT(*) AS BIGINT) AS t
        FROM x GROUP BY g, v
    ),
    cum AS (
        SELECT g, v, t,
               SUM(t) OVER (PARTITION BY g ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS c,
               SUM(t) OVER (PARTITION BY g) AS n
        FROM pv
    ),
    cuts AS (
        SELECT g, v, t, c, n,
               n // 10 AS lo,
               n - n // 10 AS hi
        FROM cum
    ),
    contrib AS (
        SELECT g, n, lo, hi,
               GREATEST(0, LEAST(c, hi) - GREATEST(c - t + 1, lo + 1) + 1)
                 AS kept,
               CASE WHEN c - t + 1 <= lo + 1 AND c >= lo + 1
                    THEN v END AS v_lo,
               CASE WHEN c - t + 1 <= hi AND c >= hi
                    THEN v END AS v_hi,
               v
        FROM cuts
    ),
    agg AS (
        SELECT g, CAST(MAX(n) AS HUGEINT) AS n,
               CAST(MAX(lo) AS HUGEINT) AS lo,
               CAST(SUM(kept * v) AS HUGEINT) AS tsum,
               CAST(SUM(kept) AS HUGEINT) AS kept_n,
               CAST(MAX(v_lo) AS HUGEINT) AS v_lo,
               CAST(MAX(v_hi) AS HUGEINT) AS v_hi
        FROM contrib GROUP BY g
    )
    SELECT g AS event_type, CAST(n AS BIGINT) AS n,
           CAST(kept_n AS BIGINT) AS n_kept,
           CAST((tsum * 100) // kept_n AS BIGINT) AS trimmed_mean_e2,
           CAST(((tsum + lo * v_lo + lo * v_hi) * 100) // n AS BIGINT)
             AS winsorized_mean_e2,
           CAST(v_lo AS BIGINT) AS p10_cents,
           CAST(v_hi AS BIGINT) AS p90_cents
    FROM agg ORDER BY event_type
    """,
    tags=("D9", "M14"),
)
def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRIMMED + WINSORIZED MEAN (10% two-sided) — the robust
    location pair between the mean (efficient, outlier-fragile) and
    the median (maximally robust, throws away 98% of the
    information): trim DROPS the tail mass, winsorize CLAMPS it to
    the cut values; both are what monitoring dashboards should plot
    when q_stats_mahalanobis is flagging tail points. Completes the
    robust corner beside median/MAD (q_window_rolling_median,
    q_feat_robust_scale).

    Exactness — no row-level ranking: everything reads off the value
    census + ONE cumulative window (the BF-median selection
    machinery). A census cell spanning ranks [c-t+1, c] contributes
    kept = max(0, min(c, hi) - max(c-t+1, lo+1) + 1) members to the
    trimmed interior (lo = n div 10, hi = n - lo — pinned rank
    cuts), so the trimmed sum is an EXACT integer even when a cell
    STRADDLES a cut; the boundary order statistics v_(lo+1) / v_(hi)
    fall out of the same frame as the cells covering those ranks
    (exactly the p10/p90 selection), and the winsorized sum adds
    lo * v_lo + lo * v_hi exactly. Two e2 floors (all operands
    non-negative). Operand audit: tsum*100 ~ n*v*100 ~ 4e13 at sf1 —
    trivially inside BIGINT through sf10000.

    Plan at 100 TB: one map-side-combined (type, value) census, one
    cumulative window over the census domain, a 5-row aggregate —
    the KS/median scan shape; the fact table is scanned once and
    never sorted row-wise."""
    pv = (
        _type_cents(spark, sf_dir, "v")
        .groupBy("g", "v")
        .agg(F.count("*").cast("bigint").alias("t"))
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("g")
    cum = pv.select(
        "g",
        "v",
        "t",
        F.sum("t").over(wcum).alias("c"),
        F.sum("t").over(wall).alias("n"),
    )
    cuts = cum.select(
        "g",
        "v",
        "t",
        "c",
        "n",
        F.expr("n div 10").alias("lo"),
        (F.col("n") - F.expr("n div 10")).alias("hi"),
    )
    contrib = cuts.select(
        "g",
        "n",
        "lo",
        "v",
        F.expr(
            "GREATEST(0, LEAST(c, hi) - GREATEST(c - t + 1, lo + 1) + 1)"
        ).alias("kept"),
        F.expr(
            "CASE WHEN c - t + 1 <= lo + 1 AND c >= lo + 1 THEN v END"
        ).alias("v_lo"),
        F.expr("CASE WHEN c - t + 1 <= hi AND c >= hi THEN v END").alias(
            "v_hi"
        ),
    )
    agg = contrib.groupBy("g").agg(
        F.max("n").cast(D38).alias("n"),
        F.max("lo").cast(D38).alias("lo"),
        F.sum(F.col("kept") * F.col("v")).cast(D38).alias("tsum"),
        F.sum("kept").cast(D38).alias("kept_n"),
        F.max("v_lo").cast(D38).alias("v_lo"),
        F.max("v_hi").cast(D38).alias("v_hi"),
    )
    return agg.select(
        F.col("g").alias("event_type"),
        F.col("n").cast("bigint").alias("n"),
        F.col("kept_n").cast("bigint").alias("n_kept"),
        F.expr("(tsum * 100) div kept_n").cast("bigint").alias(
            "trimmed_mean_e2"
        ),
        F.expr("((tsum + lo * v_lo + lo * v_hi) * 100) div n")
        .cast("bigint")
        .alias("winsorized_mean_e2"),
        F.col("v_lo").cast("bigint").alias("p10_cents"),
        F.col("v_hi").cast("bigint").alias("p90_cents"),
    )
