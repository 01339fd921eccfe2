"""Training-data cleaning / split-prep operators (SURVEY.md §2-K
extension, round 6 session 3): the remaining first-class ops a 100-TB
pretraining pipeline runs that had no registry entry yet —

- ``q_dedup_substring``: EXACT duplicated-substring span detection
  (the Lee et al. 2022 "Deduplicating Training Data Makes Language
  Models Better" semantics): every maximal token span whose K-grams
  all occur ≥2 times in the corpus, per document. This is the one
  major dedup family ml/dedup.py did not cover (exact/minhash/simhash/
  ngram-jaccard/containment/embedding are all present); suffix arrays
  are the single-node spelling, K-gram inversion is the distributed
  one.
- ``q_quality_drift``: distribution-drift audit between a reference
  and a current slice (per-bucket exact counts + total-variation
  contribution) — the pure-integer stand-in for PSI/KL monitors
  (whose ln() terms are not cross-engine exact).
- ``q_text_collocations``: PMI-ranked bigram collocations via the
  integer lift statistic c12·N·1e6 DIV (c1·c2) — monotone with PMI,
  so the ranking is identical, with no cross-engine log().
- ``q_clean_winsorize``: per-group winsorization at exact rank-based
  p05/p95 order statistics (ceil semantics), clipping on BIGINT cents.
- ``q_split_kfold``: deterministic, engine-portable K-fold assignment
  (32-bit md5-prefix hash mod K — the same portable family as
  ml/dedup.py's minhash tier) with a per-fold stratification audit.

All five are pure DataFrame/SQL — no Python in the hot path — and
carry exact DuckDB oracles (integer fixed-point only; no floats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df, pin
from ..registry import register
from ..sources.tables import cents, t

_K = 5  # substring-dedup gram width (tokens)


def substring_spans(d: DataFrame, k: int = _K) -> DataFrame:
    """Library core of ``q_dedup_substring`` (see its docstring for the
    plan-shape discussion): given a (doc_id, text) frame, return every
    maximal token span whose k-grams all occur ≥2 times in the corpus
    as (doc_id, span_start, span_end, span_tokens). Property-tested
    against a brute-force single-node reference in
    tests/test_cleaning.py for arbitrary random corpora."""
    # Round-12 scale fixes, all three from the measured playbook:
    # (1) repartition-before-explode (the q_text_winnowing rule) — the
    # input-sized scan stage otherwise carries the whole gram fan-out
    # on 1–2 tasks; keying it on doc_id makes the exchange double as
    # the island window's hashpartitioning, so no extra shuffle
    # appears. (2) grams are hashed to 8-byte xxhash64 keys BEFORE any
    # shuffle (what this query's docstring always named as the
    # production spelling; exact barring 64-bit collisions — the
    # q_dedup_exact / jaccard_pairs_at argument), so the df census and
    # the mark join move fixed-width longs, never ~40-byte gram
    # strings. (3) the gram frame feeds TWO consumers (census + mark
    # join): pin it once.
    dp = d.sparkSession.sparkContext.defaultParallelism
    toks = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= k)
        .repartition(dp, "doc_id")
    )
    grams = pin(
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, size(w) - {k}), "
                    f"i -> struct(i AS pos, xxhash64(concat_ws(' ', "
                    f"slice(w, i + 1, {k}))) AS gh))"
                )
            ).alias("g"),
        )
        .select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gh").alias("gh")),
        "substring_spans.grams",
    )
    dup = grams.groupBy("gh").agg(F.count("*").alias("c")).filter("c >= 2")
    marked = grams.join(dup.select("gh"), "gh").select("doc_id", "pos")
    isl = marked.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + k - 1).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + k).cast("bigint").alias("span_tokens"),
        )
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )


@register(
    "q_dedup_substring",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    pos AS (
        SELECT doc_id, w, UNNEST(range(1, len(w) - {_K - 2})) AS i
        FROM toks WHERE len(w) >= {_K}
    ),
    grams AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(w[i:i + {_K - 1}], ' ') AS gram
        FROM pos
    ),
    dup AS (
        SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2
    ),
    marked AS (
        SELECT doc_id, pos FROM grams JOIN dup USING (gram)
    ),
    isl AS (
        SELECT doc_id, pos,
               pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM marked
    )
    SELECT doc_id,
           CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {_K - 1} AS BIGINT) AS span_end,
           CAST(MAX(pos) - MIN(pos) + {_K} AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, grp
    """,
    tags=("K2", "K4"),
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring spans (Lee et al. 2022 semantics,
    distributed): a token position is *duplicated* when the K-gram
    starting there occurs ≥2 times anywhere in the corpus; maximal
    runs of duplicated positions are merged into spans
    (doc_id, span_start, span_end, span_tokens), the ranges an
    exact-substring dedup pass would cut from the training set.

    Plan shape: K-grams are assembled MAP-SIDE from each doc's token
    array (transform over sequence + slice — no self-join, no window,
    cf. the O(1)-gram lesson in ml/dedup.py), then ONE groupBy(gram)
    finds grams with total count ≥2, ONE shuffle join marks their
    positions, and a per-doc gaps-and-islands window (pos − row_number)
    merges adjacent positions into maximal spans. At 100 TB the gram
    table is the big intermediate — production would hash the gram to
    a 64-bit key before the shuffle (dropping the string) and
    range-bucket by doc for the island pass; the plan shape here is
    identical. The single-node alternative is a suffix array, which
    does not distribute; K-gram inversion is the standard cluster
    spelling. Core in ``substring_spans`` (property-tested vs a
    brute-force reference on random corpora)."""
    return substring_spans(
        t(spark, sf_dir, "documents").select("doc_id", "text"), _K
    )


# The oracle twin of ``drift_report`` over a ``b`` (bucket, is_ref)
# CTE: per-bucket reference/current counts, their totals, and each
# bucket's exact cross-difference and e6 TVD contribution.
_DRIFT_REPORT_SQL = """agg AS (
        SELECT bucket,
               CAST(SUM(is_ref) AS BIGINT) AS ref_n,
               CAST(SUM(1 - is_ref) AS BIGINT) AS cur_n
        FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(ref_n) AS BIGINT) AS rt,
               CAST(SUM(cur_n) AS BIGINT) AS ct
        FROM agg
    )
    SELECT bucket, ref_n, cur_n,
           CAST(cur_n * rt - ref_n * ct AS BIGINT) AS dxr,
           CAST(ABS(cur_n * rt - ref_n * ct) * 1000000 // (rt * ct)
                AS BIGINT) AS tvd_e6
    FROM agg CROSS JOIN tot"""


def drift_report(agg: DataFrame) -> DataFrame:
    """Shared drift ALGEBRA for the batch/stream twin pair
    (q_quality_drift here, streaming/queries.py q_stream_drift): given
    per-bucket (bucket, ref_n, cur_n) counts, emit the exact
    cross-difference dxr = cur_n·ref_tot − ref_n·cur_tot and the
    fixed-point e6 TVD contribution. ONE definition so the twins'
    documented equivalence cannot silently drift (r7 verdict item 8 —
    the Gopher-constants rule applied to the drift pair; the twin
    constants test pins that neither twin re-spells this algebra
    inline). Totals via an unpartitioned window — safe because the
    input is an already-aggregated ≤ bucket-count frame, never the
    scan."""
    w = Window.partitionBy()
    return (
        agg.withColumn("rt", F.sum("ref_n").over(w))
        .withColumn("ct", F.sum("cur_n").over(w))
        .select(
            "bucket",
            "ref_n",
            "cur_n",
            (F.col("cur_n") * F.col("rt") - F.col("ref_n") * F.col("ct")).alias(
                "dxr"
            ),
            F.expr(
                "abs(cur_n * rt - ref_n * ct) * 1000000 DIV (rt * ct)"
            ).alias("tvd_e6"),
        )
    )


@register(
    "q_quality_drift",
    oracle=f"""
    WITH b AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // 5000000 AS bucket,
               CASE WHEN year(o_orderdate) < 1998 THEN 1 ELSE 0 END AS is_ref
        FROM orders
    ),
    {_DRIFT_REPORT_SQL}
    """,
    tags=("D3", "K4"),
)
def q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit between a reference slice (orders
    before 1998) and the current slice: per price bucket, exact
    counts on both sides, the exact cross-difference
    dxr = cur_n·ref_tot − ref_n·cur_tot (zero iff the bucket's
    proportion is unchanged — the integer core of every chi-square /
    PSI drift statistic), and the bucket's total-variation-distance
    contribution |p_cur − p_ref| in fixed-point e6
    (TVD = Σ tvd_e6 / 2e6). PSI's (p−q)·ln(p/q) term is deliberately
    NOT emitted: ln() is not cross-engine bit-exact; dxr carries the
    same signal exactly.

    Plan: one conditional-aggregate shuffle to ≤ #buckets rows, then
    totals via an unpartitioned window over that already-aggregated
    frame (bounded at bucket-count rows — 10 here — so the single
    partition is fine at any corpus size; the pre-agg shuffle is the
    only data-sized exchange). Integer headroom: counts·totals·1e6
    stays < 2^63 up to ~10^6 rows per side per the docstring contract;
    beyond that, drop the e6 scale to e3."""
    b = t(spark, sf_dir, "orders").withColumn("c", cents("o_totalprice")).select(
        F.expr("c DIV 5000000").alias("bucket"),
        F.when(F.year("o_orderdate") < 1998, 1).otherwise(0).alias("is_ref"),
    )
    agg = b.groupBy("bucket").agg(
        F.sum("is_ref").cast("bigint").alias("ref_n"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("cur_n"),
    )
    return drift_report(agg)


_COLL_MIN_COUNT = 5


@register(
    "q_text_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    uni AS (SELECT UNNEST(w) AS word FROM toks),
    ucnt AS (SELECT word, COUNT(*) AS c FROM uni GROUP BY word),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM uni),
    big AS (
        SELECT w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT w, UNNEST(range(1, len(w))) AS i FROM toks)
    ),
    bcnt AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
        HAVING COUNT(*) >= {_COLL_MIN_COUNT}
    )
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           CAST(c12 * n_tok * 1000000 // (u1.c * u2.c) AS BIGINT) AS lift_e6
    FROM bcnt
    JOIN ucnt u1 ON w1 = u1.word
    JOIN ucnt u2 ON w2 = u2.word
    CROSS JOIN n
    ORDER BY lift_e6 DESC, w1, w2 LIMIT 30
    """,
    tags=("K4",),
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked bigram collocations: bigrams occurring ≥5 times,
    ranked by the integer lift statistic
    lift_e6 = c12·N·1e6 DIV (c1·c2) — a monotone transform of PMI
    (PMI = ln(lift/1e6)), so the ranking is identical to the float
    spelling with zero cross-engine log() risk. The standard corpus
    statistic behind tokenizer vocab curation and phrase mining.

    Plan: bigrams assembled MAP-SIDE with arrays_zip over two slices
    of the token array (no window, no self-join), one groupBy(w1,w2)
    shuffle, then two broadcast joins against the unigram counts
    (vocab ≪ corpus at any scale — the same broadcast contract as
    ml/corpus.py's BM25). The corpus token total N is one bounded
    1-row aggregate collect. Top-30 with a (lift, w1, w2) total-order
    tiebreak compiles to TakeOrderedAndProject — no global sort."""
    d = t(spark, sf_dir, "documents").select(F.split("text", " ").alias("w"))
    uni = d.select(F.explode("w").alias("word"))
    # pinned unigram census (vocab-sized): both broadcast sides and the
    # corpus token total are its marginals — unpinned, u1/u2/n_tok each
    # re-ran the corpus tokenize
    ucnt = pin(
        uni.groupBy("word")
        .agg(F.count("*").alias("c")),
        "q_text_collocations.ucnt",
    )
    n_tok = ucnt.agg(F.sum("c")).collect()[0][0]  # bounded scalar from the pin
    big = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("w", 1, F.size("w") - 1).alias("w1"),
                F.slice("w", 2, F.size("w") - 1).alias("w2"),
            )
        ).alias("p")
    ).select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bcnt = (
        big.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= _COLL_MIN_COUNT)
    )
    u1 = ucnt.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    return (
        bcnt.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .select(
            "w1",
            "w2",
            "c12",
            F.expr(f"c12 * {n_tok}L * 1000000 DIV (c1 * c2)").alias("lift_e6"),
        )
        .orderBy(F.desc("lift_e6"), "w1", "w2")
        .limit(30)
    )


@register(
    "q_clean_winsorize",
    oracle="""
    WITH li AS (
        SELECT l_returnflag AS grp,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem
    ),
    rk AS (
        SELECT grp, cents,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY grp) AS n
        FROM li
    ),
    b AS (
        SELECT grp,
               MIN(CASE WHEN rn = (n + 19) // 20 THEN cents END) AS lo,
               MIN(CASE WHEN rn = (19 * n + 19) // 20 THEN cents END) AS hi
        FROM rk
        WHERE rn = (n + 19) // 20 OR rn = (19 * n + 19) // 20
        GROUP BY grp
    )
    SELECT li.grp AS grp, b.lo AS lo, b.hi AS hi,
           CAST(SUM(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
           CAST(SUM(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
           CAST(SUM(GREATEST(LEAST(cents, hi), lo)) AS BIGINT) AS clipped_sum
    FROM li JOIN b ON li.grp = b.grp
    GROUP BY li.grp, b.lo, b.hi
    """,
    tags=("D9", "E1"),
)
def q_clean_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (outlier clipping) at EXACT rank-based
    p05/p95: the k-th order statistic with k = ceil(0.05·n) /
    ceil(0.95·n) — well-defined under ties because the VALUE at a
    sorted position is tie-order independent — then every price is
    clamped into [lo, hi] and re-summed on BIGINT cents. The standard
    feature-cleaning pass before training on heavy-tailed measures.

    Plan: one per-group sort window to rank (3 groups here; for
    high-cardinality ranks at 100 TB the repo's two_phase_rank
    deterministic-bucket spelling in operators/sort_limit.py is the
    drop-in), a 3-row bounds frame broadcast back onto the fact, and
    one final aggregate. No floats anywhere: ceil(q·n) is integer
    arithmetic ((n+19) DIV 20), clipping is GREATEST/LEAST on cents."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        cents("l_extendedprice").alias("cents"),
    )
    rk = li.select(
        "grp",
        "cents",
        F.row_number()
        .over(Window.partitionBy("grp").orderBy("cents"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    bounds = (
        rk.filter(
            (F.col("rn") == F.expr("(n + 19) DIV 20"))
            | (F.col("rn") == F.expr("(19 * n + 19) DIV 20"))
        )
        .groupBy("grp")
        .agg(
            F.min(F.when(F.col("rn") == F.expr("(n + 19) DIV 20"), F.col("cents"))).alias("lo"),
            F.min(F.when(F.col("rn") == F.expr("(19 * n + 19) DIV 20"), F.col("cents"))).alias("hi"),
        )
    )
    return (
        li.join(F.broadcast(bounds), "grp")
        .groupBy("grp", "lo", "hi")
        .agg(
            F.sum(F.when(F.col("cents") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_lo"),
            F.sum(F.when(F.col("cents") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hi"),
            F.sum(F.greatest(F.least("cents", "hi"), F.col("lo")))
            .cast("bigint")
            .alias("clipped_sum"),
        )
        .select("grp", "lo", "hi", "n_lo", "n_hi", "clipped_sum")
    )


_FK_EDGES = (
    ("orders.o_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
)


@register(
    "q_quality_ref_integrity",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{label}' AS edge,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN p._pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_orphans
    FROM {child} c
    LEFT JOIN (SELECT DISTINCT {pkey} AS _pk FROM {parent}) p
        ON c.{ckey} = p._pk
    """
        for label, child, ckey, parent, pkey in _FK_EDGES
    ),
    tags=("C5", "D3"),
)
def q_quality_ref_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the star
    schema: per edge, total child rows and orphan rows (child key with
    no parent) — the first data-quality gate any ingestion pipeline
    runs before joining fact tables at scale, where silent orphans
    turn inner joins into row loss.

    Plan: every child table is scanned ONCE — its FK edges unstack
    into (edge, _fk) rows with stack() (map-side, no shuffle before
    the aggregate), LEFT-joined against the broadcast UNION of the
    edge-tagged parent DISTINCT key sets (dimension keys are the small
    side by construction), folded into one per-edge aggregate. r12:
    the per-edge-branch spelling scanned lineitem three times — the
    largest table in the audit — for its three FK columns; stack reads
    all three key columns in one pass. No orphan rows are
    materialized — the audit is a count, so the shuffle volume is the
    key columns only."""
    from collections import defaultdict

    by_child: dict[str, list] = defaultdict(list)
    for label, child, ckey, parent, pkey in _FK_EDGES:
        by_child[child].append((label, ckey, parent, pkey))
    out = None
    for child, edges in by_child.items():
        parents = None
        for label, _ckey, parent, pkey in edges:
            p = (
                t(spark, sf_dir, parent)
                .select(F.col(pkey).alias("_pk"))
                .distinct()
                .select(F.lit(label).alias("pedge"), "_pk")
            )
            parents = p if parents is None else parents.unionAll(p)
        stack_args = ", ".join(
            f"'{label}', {ckey}" for label, ckey, _p, _pk in edges
        )
        branch = (
            t(spark, sf_dir, child)
            .selectExpr(
                f"stack({len(edges)}, {stack_args}) AS (edge, _fk)"
            )
            .join(
                F.broadcast(parents),
                (F.col("edge") == F.col("pedge"))
                & (F.col("_fk") == F.col("_pk")),
                "left",
            )
            .groupBy("edge")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.sum(F.when(F.col("_pk").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphans"),
            )
            .select("edge", "n_rows", "n_orphans")
        )
        out = branch if out is None else out.unionAll(branch)
    return out


@register(
    "q_text_rarity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents
    ),
    df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY word
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(n_docs * 1000000 // df) // COUNT(*) AS BIGINT)
               AS rarity_e6
    FROM tok JOIN df USING (word) CROSS JOIN n
    GROUP BY doc_id
    ORDER BY rarity_e6 DESC, doc_id LIMIT 20
    """,
    tags=("K4",),
)
def q_text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token document scoring: each document's mean inverse
    document frequency in fixed point — rarity_e6 =
    (Σ_tokens n_docs·1e6 DIV df(token)) DIV n_tokens — the quality
    signal that surfaces gibberish / OOV-heavy documents for manual
    review or downweighting (high score = tokens few other docs
    contain). Integer end to end: per-token idf values are exact
    BIGINTs, so the per-doc sum is order-independent and the final
    DIV is exact — no float log-idf.

    Plan: one explode + groupBy(word) with a map-side-deduped
    distinct-doc count to build the df table, broadcast it back onto
    the token stream (vocab ≪ corpus at any scale — same contract as
    BM25 in ml/corpus.py), one groupBy(doc_id), top-20 by a
    (rarity, doc_id) total order → TakeOrderedAndProject, no global
    sort. The corpus doc count is one bounded 1-row aggregate."""
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # bounded scalar (corpus row count)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    df = (
        tok.groupBy("word")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select("word", F.expr(f"{n_docs}L * 1000000 DIV df").alias("idf_e6"))
    )
    return (
        tok.join(F.broadcast(df), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.expr("CAST(SUM(idf_e6) DIV COUNT(*) AS BIGINT)").alias(
                "rarity_e6"
            ),
        )
        .orderBy(F.desc("rarity_e6"), "doc_id")
        .limit(20)
    )


@register(
    "q_split_kfold",
    oracle="""
    SELECT ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 5
               AS fold,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("B6", "K4"),
)
def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-fold split assignment with a stratification
    audit: fold = (32-bit md5-prefix of the key) mod 5 — the same
    engine-portable hash family as ml/dedup.py's portable minhash
    tier, so ANY system (Spark, DuckDB, a feature store) reproduces
    the identical assignment from the key alone, which is what makes
    train/val splits leak-proof across pipeline rewrites. Output is
    the per-(fold, lang) doc and char census a practitioner eyeballs
    for stratification skew before training.

    Plan: pure map-side hash + one groupBy shuffle on (fold, lang) —
    embarrassingly parallel at any scale. The md5 prefix is uniform,
    so folds are balanced to within sampling noise; a salt would go
    inside the md5() argument."""
    return (
        t(spark, sf_dir, "documents")
        .select(
            (md5_int(F.col("doc_id").cast("string"), 8) % 5).alias("fold"),
            "lang",
            "n_chars",
        )
        .groupBy("fold", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
    )


@register(
    "q_privacy_k_anon",
    oracle="""
    WITH l0 AS (
        SELECT COUNT(*) AS n
        FROM customer
        GROUP BY c_nationkey, c_mktsegment,
                 CAST(FLOOR(c_acctbal / 1000) AS BIGINT)),
    l1 AS (
        SELECT COUNT(*) AS n
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_regionkey, c.c_mktsegment),
    rep AS (
        SELECT 0 AS level, * FROM l0
        UNION ALL SELECT 1 AS level, * FROM l1)
    SELECT CAST(level AS BIGINT) AS level,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(CASE WHEN n < 5 THEN 1 END) AS BIGINT)
               AS n_violating,
           CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           CAST(MIN(n) AS BIGINT) AS min_group_size
    FROM rep GROUP BY level
    """,
    tags=("governance", "D1", "C1"),
)
def q_privacy_k_anon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) with a generalization hierarchy — the
    privacy gate a dataset passes before release: every
    quasi-identifier combination must describe ≥k individuals, else
    those rows are re-identifiable by linkage. Level 0 audits the raw
    QI (nation, segment, balance-in-thousands): violated at every
    fixture scale. Level 1 applies the standard fix — generalize the
    most identifying attribute up its hierarchy (nation → region via
    the dim join) — and the violations vanish at sf0.01+, which is
    exactly the report shape an anonymization loop consumes (keep
    generalizing until n_violating = 0, then release). Plan: each
    level is one map-side-combined groupBy (the region hierarchy
    rides a broadcast dim join); the two 1-row-per-group frames union
    into a 2-row report — no fact-table join, no window. At 100 TB
    the QI census is the same shuffle a dedup pass pays."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    # pinned L0 QI census (domain-bounded); the L1 generalization is
    # its region rollup through the broadcast dim — unpinned/unrolled,
    # L1 re-scanned the fact table (kendall rule)
    l0 = pin(
        c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(FLOOR(c_acctbal / 1000) AS BIGINT)"),
        )
        .agg(F.count("*").alias("n")),
        "q_privacy_k_anon.l0",
    )
    l1 = (
        l0.join(F.broadcast(n), l0["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.sum("n").alias("n"))
    )
    rep = l0.select(F.lit(0).alias("level"), "n").unionByName(
        l1.select(F.lit(1).alias("level"), "n")
    )
    return rep.groupBy(F.col("level").cast("bigint").alias("level")).agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count(F.when(F.col("n") < 5, 1)).cast("bigint").alias("n_violating"),
        F.coalesce(
            F.sum(F.when(F.col("n") < 5, F.col("n"))), F.lit(0)
        ).cast("bigint").alias("rows_at_risk"),
        F.min("n").cast("bigint").alias("min_group_size"),
    )


@register(
    "q_privacy_l_diversity",
    oracle="""
    WITH g AS (
        SELECT c_nationkey, c_mktsegment,
               COUNT(*) AS n,
               COUNT(DISTINCT CAST(FLOOR(c_acctbal / 2000) AS BIGINT))
                   AS n_sensitive
        FROM customer
        GROUP BY c_nationkey, c_mktsegment)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(CASE WHEN n_sensitive < 3 THEN 1 END) AS BIGINT)
               AS n_violating,
           CAST(SUM(CASE WHEN n_sensitive < 3 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
           CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity
    FROM g
    """,
    tags=("governance", "D4", "D1"),
)
def q_privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-DIVERSITY audit (distinct variant, l=3) — the privacy gate
    k-anonymity alone cannot provide (Machanavajjhala et al. 2007,
    public): a QI group of ≥k rows is STILL disclosive if every member
    shares the same sensitive value (the homogeneity attack), so each
    (nation, segment) group must contain ≥3 DISTINCT sensitive values
    (the $2k balance band standing in for the sensitive attribute).
    Complements q_privacy_k_anon: that gate counts group SIZE, this
    one counts within-group VALUE variety; a release loop runs both.

    Plan: ONE partial-aggregated groupBy with COUNT DISTINCT over the
    QI (Spark expands the distinct into a two-level aggregate —
    map-side combine still applies), then a 1-row report; no joins,
    no window. At 100 TB: identical shuffle shape to the k-anon
    census."""
    c = t(spark, sf_dir, "customer")
    g = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n"),
        F.countDistinct(
            F.expr("CAST(FLOOR(c_acctbal / 2000) AS BIGINT)")
        ).alias("n_sensitive"),
    )
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count(F.when(F.col("n_sensitive") < 3, 1))
        .cast("bigint")
        .alias("n_violating"),
        F.coalesce(F.sum(F.when(F.col("n_sensitive") < 3, F.col("n"))), F.lit(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.min("n_sensitive").cast("bigint").alias("min_diversity"),
    )


_BENFORD_E6 = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}  # floor(log10(1 + 1/d)·1e6 + 0.5) — shared literal constants so no
# engine ever evaluates a float log10 at query time


def _benford_values_sql() -> str:
    return ", ".join(f"({d}, {e})" for d, e in _BENFORD_E6.items())


@register(
    "q_quality_benford",
    oracle=f"""
    WITH exp(digit, exp_e6) AS (VALUES {_benford_values_sql()}),
    obs AS (
        SELECT CAST(substring(CAST(CAST(ROUND(o_totalprice * 100, 0)
                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
               COUNT(*) AS n
        FROM orders GROUP BY 1),
    tot AS (SELECT SUM(n) AS total FROM obs)
    SELECT e.digit,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS n,
           CAST((COALESCE(o.n, 0) * 1000000) // tot.total AS BIGINT)
               AS obs_e6,
           CAST(e.exp_e6 AS BIGINT) AS exp_e6,
           CAST(ABS((COALESCE(o.n, 0) * 1000000) // tot.total - e.exp_e6)
               AS BIGINT) AS dev_e6
    FROM exp e LEFT JOIN obs o ON o.digit = e.digit CROSS JOIN tot
    """,
    tags=("governance", "D1", "quality"),
)
def q_quality_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the forensic screen auditors
    run on financial or telemetry columns: natural multiplicative data
    follows P(d) = log10(1+1/d); flat or truncated deviations flag
    synthetic, fabricated, or clipped values. On THIS fixture the
    audit correctly fires (the generator draws near-uniform prices:
    digits 1–4 are ~4× over-represented, 5–9 starved) — the point of
    the demo: the report's dev_e6 column IS the detector. Expected
    shares are shared e6 literals (no engine evaluates log10 at query
    time); observed shares are truncating divisions of exact counts;
    amounts canonicalize to integer cents first so the leading digit
    is well-defined. Plan: one map-side-combined groupBy(digit) into a
    9-row broadcast join against the constants — the cheapest possible
    full-column pass at any scale."""
    o = t(spark, sf_dir, "orders")
    exp = local_df(
        spark, sorted(_BENFORD_E6.items()), "digit bigint, exp_e6 bigint"
    )
    obs = (
        o.select(
            F.substring(cents("o_totalprice").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("total"))
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
            F.expr("(COALESCE(n, 0) * 1000000) DIV total").alias("obs_e6"),
            F.col("exp_e6").cast("bigint").alias("exp_e6"),
            F.expr(
                "CAST(ABS((COALESCE(n, 0) * 1000000) DIV total - exp_e6)"
                " AS BIGINT)"
            ).alias("dev_e6"),
        )
    )


@register(
    "q_privacy_t_closeness",
    oracle="""
    WITH x AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS b
        FROM customer
    ),
    dom AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS cb FROM x GROUP BY b
    ),
    gtotal AS (
        SELECT CAST(SUM(cb) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM dom
    ),
    grp AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS ng
        FROM x GROUP BY c_nationkey, c_mktsegment
    ),
    cells AS (
        SELECT c_nationkey, c_mktsegment, b,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM x GROUP BY c_nationkey, c_mktsegment, b
    ),
    grid AS (
        SELECT g.c_nationkey, g.c_mktsegment, g.ng, d.b, d.cb,
               gl.nn, gl.m, COALESCE(cl.c, 0) AS c
        FROM grp g CROSS JOIN dom d CROSS JOIN gtotal gl
        LEFT JOIN cells cl
          ON cl.c_nationkey = g.c_nationkey
         AND cl.c_mktsegment = g.c_mktsegment AND cl.b = d.b
    ),
    cum AS (
        SELECT c_nationkey, c_mktsegment, ng, nn, m,
               SUM(c * nn - cb * ng) OVER (
                   PARTITION BY c_nationkey, c_mktsegment ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cd
        FROM grid
    ),
    emd AS (
        SELECT c_nationkey, c_mktsegment, ng, nn, m,
               CAST(SUM(ABS(cd)) AS BIGINT) AS emd_num
        FROM cum GROUP BY c_nationkey, c_mktsegment, ng, nn, m
    ),
    per AS (
        SELECT ng, emd_num,
               (emd_num * 1000000) // (ng * nn * (m - 1)) AS emd_e6,
               emd_num * 5 > ng * nn * (m - 1) AS violate
        FROM emd
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(COUNT(CASE WHEN violate THEN 1 END) AS BIGINT)
             AS n_violating,
           CAST(COALESCE(SUM(CASE WHEN violate THEN ng END), 0) AS BIGINT)
             AS rows_at_risk,
           CAST(MAX(emd_e6) AS BIGINT) AS max_emd_e6
    FROM per
    """,
    tags=("governance", "D4", "E1"),
)
def q_privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit (Li, Li & Venkatasubramanian 2007, public) —
    completes the release-gate triad over the same QI groups:
    q_privacy_k_anon counts group SIZE, q_privacy_l_diversity counts
    within-group VARIETY, and this gate bounds how much a group's
    sensitive DISTRIBUTION deviates from the global one (skewness
    attack: a group can be large and diverse yet still 90% high-
    balance). For the ORDERED sensitive attribute (the $2k balance
    band), the distance is the 1-D Earth Mover's Distance = mean of
    |cumulative(P - Q)| over the band domain.

    Exactness: with group counts c_i, global counts C_i, group size
    n_g, total N, every cumulative difference is the exact integer
    cum(c_i*N - C_i*n_g); EMD's rational value emd_num / (n_g*N*(m-1))
    is reported as a FLOOR-e6 integer quotient and the t = 0.2 = 1/5
    gate is the cross-multiplied comparison 5*emd_num > n_g*N*(m-1) —
    no float in any verdict (the house M14 discipline applied to
    privacy).

    Plan: one fact census to (QI, band) cells; a (groups x band-domain)
    dense grid — bounded by DOMAINS (125 groups x ~6 bands), never by
    rows — carries one cumulative window; one fold to the report row.
    Fact table scanned once (the three grouping passes all reuse the
    same scan via Catalyst's exchange reuse or cost a second scan of
    one column — either way no row ever shuffles twice)."""
    x = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("CAST(FLOOR(c_acctbal / 2000) AS BIGINT)").alias("b"),
    )
    # pinned joint (QI, band) census — bounded by domains (~125 groups
    # x ~6 bands); the band domain, group sizes and global totals are
    # its exact marginals (kendall rule), so the fact table is scanned
    # ONCE instead of once per grouping pass.
    cells = pin(
        x.groupBy("c_nationkey", "c_mktsegment", "b")
        .agg(F.count("*").cast("bigint").alias("c")),
        "q_privacy_t_closeness.cells",
    )
    dom = cells.groupBy("b").agg(F.sum("c").cast("bigint").alias("cb"))
    gtotal = dom.agg(
        F.sum("cb").cast("bigint").alias("nn"),
        F.count("*").cast("bigint").alias("m"),
    )
    grp = cells.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c").cast("bigint").alias("ng")
    )
    grid = (
        grp.crossJoin(F.broadcast(dom))
        .join(cells, ["c_nationkey", "c_mktsegment", "b"], "left")
        .na.fill({"c": 0})
        .crossJoin(F.broadcast(gtotal))
    )
    wcum = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "ng",
        "nn",
        "m",
        F.sum(
            F.col("c") * F.col("nn") - F.col("cb") * F.col("ng")
        ).over(wcum).alias("cd"),
    )
    emd = cum.groupBy("c_nationkey", "c_mktsegment", "ng", "nn", "m").agg(
        F.sum(F.abs("cd")).cast("bigint").alias("emd_num")
    )
    per = emd.select(
        "ng",
        F.expr(
            "(emd_num * 1000000) div (ng * nn * (m - 1))"
        ).alias("emd_e6"),
        (
            F.col("emd_num") * 5
            > F.col("ng") * F.col("nn") * (F.col("m") - 1)
        ).alias("violate"),
    )
    return per.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count(F.when(F.col("violate"), 1))
        .cast("bigint")
        .alias("n_violating"),
        F.coalesce(F.sum(F.when(F.col("violate"), F.col("ng"))), F.lit(0))
        .cast("bigint")
        .alias("rows_at_risk"),
        F.max("emd_e6").cast("bigint").alias("max_emd_e6"),
    )
