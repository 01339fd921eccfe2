"""The end-to-end training-data pipeline as ONE lazy plan.

Every stage a real LLM-data pipeline runs — quality filter, exact
dedup with a deterministic survivor policy, reproducible train/val
split, per-split accounting — composed into a single DataFrame that
Catalyst optimizes as a whole (the filter reaches the scan underneath
all four stages; nothing materializes between them). The near-dup and
embedding stages have their own registered queries (q_dedup_*,
q_knn_*); this composite keeps to the exactly-reproducible stages so
the whole pipeline is oracle-checkable end to end.

Scale: one shuffle for the dedup groupBy (on the fixed-width text
hash), one for the survivor join (same key), one for the final stats —
the split is a per-row hash filter, free. At 100 TB each stage stays
shuffle-minimal because every key is a hash, never the document body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import md5_int
from ..ml.dedup import PAIR_CTES
from ..registry import register
from ..sources.tables import t
from ..ml.curation import (
    GOPHER_DUP_E6,
    GOPHER_MEANLEN_E1,
    GOPHER_MIN_STOP,
    GOPHER_WORDS,
    dup_bigram_census,
)
from ..ml.text import STOPWORDS as _GOPHER_STOP
from ..ml.text import word_ngrams

_MIN_WORDS = 30


def _quality_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, text, n_words) of the documents that pass the
    quality filter (at least _MIN_WORDS words): the first stage of
    q_pipeline_e2e and q_pipeline_pretrain."""
    return docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(F.split("text", " ")).cast("bigint").alias("n_words"),
    ).filter(F.col("n_words") >= _MIN_WORDS)


@register(
    "q_pipeline_e2e",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_MIN_WORDS}),
    d AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_id
          FROM q GROUP BY md5(text)),
    kept AS (SELECT q.* FROM q JOIN d ON q.doc_id = d.keep_id),
    split AS (
        SELECT *, CASE WHEN md5(text) < '80' THEN 'train' ELSE 'val' END
               AS part
        FROM kept)
    SELECT lang, part,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens
    FROM split GROUP BY lang, part
    """,
    tags=("composite", "K1", "K4", "B6"),
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter → exact-dedup (min-doc_id survivor per content
    hash) → deterministic md5 train/val split → per-(lang, split)
    token accounting, one lazy plan. Every stage uses the
    engine-independent determinism tricks proven by its standalone
    query (hash survivor policy from q_dedup_exact, md5-threshold
    split from q_sample_hash), so the ENTIRE pipeline hash-matches the
    oracle — the property that lets a 100 TB corpus rebuild be audited
    stage by stage."""
    docs = t(spark, sf_dir, "documents")
    q = _quality_docs(docs)
    d = q.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = q.join(d, q.doc_id == d.keep_id).select(q["*"])
    split = kept.withColumn(
        "part",
        F.when(F.md5(F.col("text").cast("binary")) < "80", "train").otherwise("val"),
    )
    return split.groupBy("lang", "part").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").alias("total_tokens"),
    )


@register(
    "q_quality_expectations",
    oracle="""
    SELECT 'orders_price_positive' AS rule,
           (SELECT COUNT(*) FROM orders) AS n_checked,
           (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS n_violations
    UNION ALL
    SELECT 'orders_customer_exists',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
               (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'lineitem_qty_in_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem WHERE l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'customer_name_not_null',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer WHERE c_name IS NULL)
    UNION ALL
    SELECT 'documents_nonempty_text',
           (SELECT COUNT(*) FROM documents),
           (SELECT COUNT(*) FROM documents WHERE text IS NULL OR LENGTH(text) = 0)
    """,
    tags=("composite", "D3", "C5"),
)
def q_quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (the dbt-test / expectations
    pattern): each rule is a conditional aggregate or orphan count,
    unioned into one violations report the pipeline can assert on
    before publishing a table. ONE scan per audited table (r12: the
    per-rule 1-row-aggregate spelling paid 11 scans — every n_checked
    and n_violations was its own pass): all of a table's rules fold
    into a single multi-column conditional aggregate, the referential
    check rides the same orders scan as a broadcast left join
    (count_if(key IS NULL) ≡ the anti-join count), and the two
    orders-table rules unstack from the one aggregate row with
    stack(). At 100 TB this exact report runs as the
    write-audit-publish gate."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    d = t(spark, sf_dir, "documents")

    ckeys = c.select("c_custkey").distinct()
    o_rules = (
        o.join(
            F.broadcast(ckeys),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("o_totalprice") <= 0).alias("v_price"),
            F.count_if(F.col("c_custkey").isNull()).alias("v_orphan"),
        )
        .selectExpr(
            "stack(2, 'orders_price_positive', n, v_price, "
            "'orders_customer_exists', n, v_orphan) "
            "AS (rule, n_checked, n_violations)"
        )
    )
    li_rules = li.agg(
        F.count("*").alias("n_checked"),
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("n_violations"),
    ).select(F.lit("lineitem_qty_in_range").alias("rule"), "n_checked", "n_violations")
    c_rules = c.agg(
        F.count("*").alias("n_checked"),
        F.count_if(F.col("c_name").isNull()).alias("n_violations"),
    ).select(F.lit("customer_name_not_null").alias("rule"), "n_checked", "n_violations")
    d_rules = d.agg(
        F.count("*").alias("n_checked"),
        F.count_if(
            F.col("text").isNull() | (F.length("text") == 0)
        ).alias("n_violations"),
    ).select(F.lit("documents_nonempty_text").alias("rule"), "n_checked", "n_violations")
    return o_rules.unionByName(li_rules).unionByName(c_rules).unionByName(d_rules)


@register(
    "q_pipeline_pretrain",
    oracle=f"""
    WITH RECURSIVE
    q AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
        FROM documents
        WHERE len(string_split(text, ' ')) >= {_MIN_WORDS}),
    ex AS (SELECT md5(text) AS h, MIN(doc_id) AS keep_id
           FROM q GROUP BY md5(text)),
    kept AS (SELECT q.* FROM q JOIN ex ON q.doc_id = ex.keep_id),
    ktoks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM kept),
    sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(ws) - 1),
                      i -> array_to_string(ws[i : i + 2], ' '))) AS shingle
        FROM ktoks),
    {PAIR_CTES},
    e2 AS (SELECT id_a AS src, id_b AS dst FROM pairs
           UNION ALL SELECT id_b, id_a FROM pairs),
    reach(node, lab) AS (
        SELECT src, src FROM e2
        UNION
        SELECT b.dst, r.lab FROM reach r JOIN e2 b ON b.src = r.node),
    near_drop AS (
        SELECT node AS doc_id FROM reach GROUP BY node
        HAVING node <> MIN(lab)),
    surv AS (
        SELECT kept.* FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM near_drop)),
    atoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    g5 AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(w) - 3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                        || w[i+3] || ' ' || w[i+4])) AS gram
        FROM atoks),
    bench AS (SELECT DISTINCT gram FROM g5 WHERE doc_id % 43 = 0),
    contaminated AS (
        SELECT DISTINCT g5.doc_id FROM g5 JOIN bench USING (gram)
        WHERE g5.doc_id % 43 <> 0),
    final AS (
        SELECT surv.* FROM surv
        WHERE doc_id % 43 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM contaminated))
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_tokens
    FROM final GROUP BY lang
    """,
    tags=("composite", "K1", "K2", "K4", "lakehouse"),
)
def q_pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pretraining-data pipeline in one query, every stage the
    proven standalone operator: quality filter (≥{_MIN_WORDS} words) →
    exact dedup (md5 content-hash survivor) → NEAR dedup (lossless
    prefix-filtered trigram-Jaccard pairs at 0.5 → connected
    components → min-id survivor per cluster) → benchmark
    decontamination (drop the doc_id%43 eval slice AND any doc sharing
    a 5-gram with it) → publish the surviving corpus as a lakehouse
    snapshot → read the SNAPSHOT back and account tokens per language.
    The oracle replays all five stages in one SQL statement (recursive
    CTE for the transitive closure), so a row lost or resurrected at
    ANY stage boundary — including the table write — fails the hash.
    This is the audit property a 100 TB corpus rebuild needs: the
    whole pipeline, not just each stage, is provably deterministic."""
    import shutil

    from ..ml.dedup import connected_components, jaccard_pairs_at
    from ..plans.lakehouse import snapshot_read, snapshot_write
    from ..sources.formats import scratch

    docs = t(spark, sf_dir, "documents")
    q = _quality_docs(docs)
    ex = q.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("keep_id")
    )
    kept = q.join(ex, q.doc_id == ex.keep_id).select(q["*"])
    edges = jaccard_pairs_at(kept.select("doc_id", "text"), 0.5).select(
        "id_a", "id_b"
    )
    cc = connected_components(edges)
    near_drop = cc.filter(F.col("node") != F.col("cluster_id")).select(
        F.col("node").alias("doc_id")
    )
    surv = kept.join(near_drop, "doc_id", "left_anti")
    # decontamination grams over the ORIGINAL corpus (benchmark slice
    # included), exactly as q_text_decontaminate — token array bound
    # as a column first (the inlined-split spelling re-split the text
    # per element_at: O(len²), the r7 headline regression)
    from ..ml.text import word_ngrams

    toks_df = docs.select("doc_id", F.split("text", " ").alias("w"))
    exploded = toks_df.select(
        "doc_id", F.explode(word_ngrams(5, distinct=True)).alias("gram")
    )
    is_bench = F.col("doc_id") % 43 == 0
    bench = exploded.filter(is_bench).select("gram").distinct()
    contaminated = (
        exploded.filter(~is_bench)
        .join(F.broadcast(bench), "gram")
        .select("doc_id")
        .distinct()
    )
    final = (
        surv.filter(F.col("doc_id") % 43 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "n_words")
    )
    path = scratch("pretrain_corpus", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    snapshot_write(final, path, "append")
    back = snapshot_read(spark, path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_tokens"),
    )


@register(
    "q_pipeline_curation",
    oracle=lambda: f"""
    WITH corpus0 AS (
        SELECT doc_id, text, n_chars, lang, TRUE AS is_orig FROM documents
        UNION ALL
        SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
               text, n_chars, lang, FALSE
        FROM documents WHERE doc_id % 25 = 0
    ),
    toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM corpus0),
    big AS (
        SELECT doc_id, w, UNNEST(range(1, len(w))) AS i
        FROM toks WHERE len(w) >= 2
    ),
    bgc AS (
        SELECT doc_id, array_to_string(w[i:i + 1], ' ') AS gram,
               COUNT(*) AS n
        FROM big GROUP BY 1, 2
    ),
    dup AS (
        SELECT doc_id, SUM(n) AS total,
               SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS dupn
        FROM bgc GROUP BY doc_id
    ),
    feat AS (
        SELECT c.*,
               len(t.w) AS n_words,
               c.n_chars * 10 // len(t.w) AS mean_len_e1,
               COALESCE(d.dupn * 1000000 // d.total, 0) AS dup_e6,
               len(list_filter(t.w,
                   x -> list_contains({list(_GOPHER_STOP)}, x))) AS n_stop
        FROM corpus0 c
        JOIN toks t USING (doc_id)
        LEFT JOIN dup d USING (doc_id)
    ),
    gop AS (
        SELECT doc_id, text, n_chars, lang, is_orig FROM feat
        WHERE n_words BETWEEN {GOPHER_WORDS[0]} AND {GOPHER_WORDS[1]}
          AND mean_len_e1 BETWEEN {GOPHER_MEANLEN_E1[0]}
                              AND {GOPHER_MEANLEN_E1[1]}
          AND dup_e6 <= {GOPHER_DUP_E6}
          AND n_stop >= {GOPHER_MIN_STOP}
    ),
    ret AS (
        SELECT doc_id, text, n_chars, lang, is_orig FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY md5(text)
                ORDER BY n_chars DESC, doc_id) AS r
            FROM gop) WHERE r = 1
    ),
    btoks AS (SELECT string_split(text, ' ') AS w FROM documents
              WHERE doc_id % 43 = 0),
    bgrams AS (
        SELECT DISTINCT UNNEST(list_transform(range(1, len(w) - 3),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                 || w[i+3] || ' ' || w[i+4])) AS gram
        FROM btoks
    ),
    ret_tr AS (
        SELECT * FROM ret WHERE NOT (is_orig AND doc_id % 43 = 0)
    ),
    rtoks AS (SELECT doc_id, string_split(text, ' ') AS w FROM ret_tr),
    rgrams AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(w) - 3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                        || w[i+3] || ' ' || w[i+4])) AS gram
        FROM rtoks
    ),
    contaminated AS (
        SELECT DISTINCT doc_id FROM rgrams JOIN bgrams USING (gram)
    ),
    dec AS (
        SELECT * FROM ret_tr
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    rates AS (
        SELECT lang, COUNT(*) AS n,
               CAST(FLOOR(SQRT(COUNT(*)) * 1000 + 0.5) AS BIGINT) AS w_e3
        FROM dec GROUP BY lang
    ),
    thr AS (
        SELECT lang,
               LEAST(1000000,
                     (200 * w_e3 * 1000000)
                         // ((SELECT SUM(w_e3) FROM rates) * n)) AS rate_e6
        FROM rates
    ),
    mixed AS (
        SELECT d.* FROM dec d JOIN thr USING (lang)
        WHERE ('0x' || substring(
                   md5(CAST(d.doc_id AS VARCHAR) || '-mix42'), 1, 8)
              )::BIGINT % 1000000 < thr.rate_e6
    ),
    folded AS (
        SELECT lang,
               ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
               )::BIGINT % 5 AS fold,
               COUNT(*) AS n_docs, SUM(n_chars) AS chars
        FROM mixed GROUP BY 1, 2
    )
    SELECT CAST(0 AS BIGINT) AS stage, '*' AS lang,
           CAST(-1 AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS n_chars
    FROM corpus0
    UNION ALL
    SELECT 1, '*', -1, COUNT(*), CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
    FROM gop
    UNION ALL
    SELECT 2, '*', -1, COUNT(*), CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
    FROM ret
    UNION ALL
    SELECT 3, '*', -1, COUNT(*), CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
    FROM dec
    UNION ALL
    SELECT 4, '*', -1, COUNT(*), CAST(COALESCE(SUM(n_chars), 0) AS BIGINT)
    FROM mixed
    UNION ALL
    SELECT 5, lang, CAST(fold AS BIGINT), CAST(n_docs AS BIGINT),
           CAST(chars AS BIGINT)
    FROM folded
    """,
    tags=("composite", "P2", "P4", "K4", "B6"),
)
def q_pipeline_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation CAPSTONE (r7 verdict item 5): every P-family stage
    composed into ONE lazy plan with no driver barrier between stages —
    plant exact dups (crawl stand-in) → Gopher rule gate → exact-dup
    retention (best-member survivor) → benchmark decontamination
    (broadcast 5-gram probe) → temperature mixture (α=0.5 per-lang
    rates) → deterministic k-fold split. Output is the stage funnel
    (stage 0-4: docs and chars surviving each gate, lang='*', fold=-1)
    plus the final per-(fold, lang) census (stage 5) — the audit a
    100 TB corpus rebuild publishes.

    Every stage reuses its standalone query's proven portable
    spelling AND ITS SHARED CONSTANTS (GOPHER_* from ml/curation,
    word_ngrams from ml/text, the md5-prefix uniform family), so the
    composite cannot drift from the pieces.

    Scale/plan shape: each stage is a FLAG COLUMN on one flowing
    frame, not a materialized intermediate — the funnel is a single
    conditional aggregate over the flags unpivoted with stack(), so
    adding a census line costs one count_if, never a replay of the
    pipeline prefix (the naive 5-branch union re-executed the whole
    subtree per stage: 12.8 s → 3.4 s at sf0.01). Retention rides the
    same window as the gate (ORDER BY gate-flag DESC puts the best
    PASSING member first); bench grams and the per-lang rate table
    broadcast; the mixture decision and fold assignment are map-side.
    The corpus body is shuffled exactly twice (per-doc bigram count,
    retention window on the fixed-width digest)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars", "lang"
    )
    plant0 = F.broadcast(d.agg((F.max("doc_id") + 1).alias("p0")))
    planted = (
        d.filter(F.col("doc_id") % 25 == 0)
        .crossJoin(plant0)
        .select(
            (F.col("doc_id") + F.col("p0")).alias("doc_id"),
            "text", "n_chars", "lang", F.lit(False).alias("is_orig"),
        )
    )
    corpus0 = d.withColumn("is_orig", F.lit(True)).unionByName(planted)

    # --- stage 1 flag g: Gopher rule gate (shared constants) ---
    toks = corpus0.withColumn("w", F.split("text", " "))
    dup = dup_bigram_census(toks)
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOP])
    feat = toks.join(dup, "doc_id", "left").select(
        "doc_id", "text", "n_chars", "lang", "is_orig",
        F.size("w").cast("bigint").alias("n_words"),
        F.expr("n_chars * 10 DIV size(w)").cast("bigint").alias(
            "mean_len_e1"
        ),
        F.coalesce(F.expr("dupn * 1000000 DIV total"), F.lit(0))
        .cast("bigint")
        .alias("dup_e6"),
        F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
        .cast("bigint")
        .alias("n_stop"),
    )
    flags = feat.withColumn(
        "g",
        F.col("n_words").between(*GOPHER_WORDS)
        & F.col("mean_len_e1").between(*GOPHER_MEANLEN_E1)
        & (F.col("dup_e6") <= GOPHER_DUP_E6)
        & (F.col("n_stop") >= GOPHER_MIN_STOP),
    ).select("doc_id", "text", "n_chars", "lang", "is_orig", "g")

    # --- stage 2 flag ret: exact-dup retention. ONE window over the
    # fixed-width digest; ordering by the gate flag DESC first makes
    # row 1 the best PASSING member whenever the cluster has one, so
    # "retention among gate survivors" needs no second pass ---
    win = Window.partitionBy(F.md5("text")).orderBy(
        F.desc("g"), F.desc("n_chars"), F.asc("doc_id")
    )
    flags = flags.withColumn(
        "ret", F.col("g") & (F.row_number().over(win) == 1)
    ).withColumn(
        # training-corpus membership: drop the benchmark docs
        # themselves (bench is defined on ORIGINAL ids — the eval
        # suite is external; planted copies are caught by grams)
        "tr",
        F.col("ret") & ~(F.col("is_orig") & (F.col("doc_id") % 43 == 0)),
    )

    # --- stage 3 flag dec: decontamination (broadcast bench grams;
    # q_text_decontaminate's plan — the corpus side never shuffles) ---
    bench_grams = (
        d.filter(F.col("doc_id") % 43 == 0)
        .select(F.split("text", " ").alias("w"))
        .select(F.explode(word_ngrams(5, distinct=True)).alias("gram"))
        .distinct()
    )
    contaminated = (
        flags.filter("tr")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id", F.explode(word_ngrams(5, distinct=True)).alias("gram")
        )
        .join(F.broadcast(bench_grams), "gram")
        .select("doc_id")
        .distinct()
        .withColumn("bad", F.lit(True))
    )
    flags = flags.join(contaminated, "doc_id", "left").withColumn(
        "dec", F.col("tr") & ~F.coalesce("bad", F.lit(False))
    )

    # --- stage 4 flag mix: temperature mixture (α=0.5;
    # q_mix_temperature's exact fixed-point rate table, broadcast) ---
    rates = (
        flags.filter("dec")
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "w_e3",
            F.expr(
                "CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000 + 0.5)"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "rate_e6",
            F.least(
                F.lit(1000000).cast("bigint"),
                F.expr(
                    "(200 * w_e3 * 1000000)"
                    " DIV ((SUM(w_e3) OVER ()) * n)"
                ),
            ),
        )
        .select("lang", "rate_e6")
    )
    u = md5_int(F.concat(F.col("doc_id").cast("string"), F.lit("-mix42")), 8) % 1000000
    flags = flags.join(F.broadcast(rates), "lang", "left").withColumn(
        "mix", F.col("dec") & (u < F.coalesce("rate_e6", F.lit(0)))
    )

    # --- census: ONE conditional aggregate + stack() unpivot for the
    # funnel; the per-(fold, lang) breakdown filters the same flags ---
    def cnt(flag):
        return F.count_if(F.col(flag)).cast("bigint")

    def chars(flag):
        return (
            F.coalesce(F.sum(F.when(F.col(flag), F.col("n_chars"))), F.lit(0))
            .cast("bigint")
        )

    agg1 = flags.agg(
        F.count("*").cast("bigint").alias("c0"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("s0"),
        cnt("g").alias("c1"), chars("g").alias("s1"),
        cnt("ret").alias("c2"), chars("ret").alias("s2"),
        cnt("dec").alias("c3"), chars("dec").alias("s3"),
        cnt("mix").alias("c4"), chars("mix").alias("s4"),
    )
    funnel = agg1.selectExpr(
        "stack(5, 0L, c0, s0, 1L, c1, s1, 2L, c2, s2,"
        " 3L, c3, s3, 4L, c4, s4) AS (stage, n_docs, n_chars)"
    ).select(
        "stage",
        F.lit("*").alias("lang"),
        F.lit(-1).cast("bigint").alias("fold"),
        "n_docs",
        "n_chars",
    )
    fold = md5_int(F.col("doc_id").cast("string"), 8) % 5
    folded = (
        flags.filter("mix")
        .groupBy("lang", fold.alias("fold"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
        )
        .select(
            F.lit(5).cast("bigint").alias("stage"),
            "lang",
            F.col("fold").cast("bigint").alias("fold"),
            "n_docs",
            "n_chars",
        )
    )
    return funnel.unionByName(folded)


@register(
    "q_pipeline_entity_resolution",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT p_name AS name, CAST(MIN(p_partkey) AS BIGINT) AS key
        FROM part GROUP BY p_name
    ),
    off AS (SELECT CAST(MAX(p_partkey) + 1 AS BIGINT) AS o FROM part),
    dirty AS (
        SELECT key, name FROM base
        UNION ALL
        SELECT key + o, name || 'x' FROM base CROSS JOIN off
        WHERE key % 20 = 0
        UNION ALL
        SELECT key + 2 * o, name || 'xx' FROM base CROSS JOIN off
        WHERE key % 40 = 0
    ),
    pairs AS (
        SELECT a.key AS ka, b.key AS kb
        FROM dirty a JOIN dirty b
          ON split_part(a.name, ' ', 2) = split_part(b.name, ' ', 2)
         AND a.key < b.key
        WHERE levenshtein(a.name, b.name) <= 1
    ),
    edges AS (
        SELECT ka AS src, kb AS dst FROM pairs
        UNION
        SELECT kb AS src, ka AS dst FROM pairs
    ),
    reach AS (
        SELECT DISTINCT src AS a, src AS b FROM edges
        UNION
        SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    ),
    labels AS (SELECT a AS key, MIN(b) AS lab FROM reach GROUP BY a)
    SELECT CAST(lab AS BIGINT) AS canonical,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(key) AS BIGINT) AS key_sum
    FROM labels GROUP BY lab
    """,
    tags=("composite", "C", "H12", "K2", "graph"),
)
def q_pipeline_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENTITY RESOLUTION end to end — the master-data pipeline every
    warehouse runs on dirty customer/product feeds: (1) PLANT dirty
    variants (data-derived id offsets, the q_dedup_semantic rule:
    every 20th entity gets a 1-edit copy, every 40th ALSO a 2-edit
    copy — the 2-edit copy is ≤1 edit ONLY from the 1-edit copy, so
    the original↔v2 link exists solely through TRANSITIVE CLOSURE and
    a pairs-only implementation fails the oracle); (2) BLOCK on the
    name's noun and verify candidates with exact levenshtein ≤ 1
    (the q_fuzzy_join block→verify shape: never all-pairs); (3) close
    matches into clusters with ml/dedup.py's connected_components
    (min-label propagation — match graphs here have diameter ≤ 2, the
    measured min-label regime); (4) elect the GOLDEN RECORD per
    cluster (min key = the original, since planted keys are offset
    above the domain) and census members + key-sum checksum. The
    oracle replays all four stages in DuckDB with a recursive-CTE
    closure. Plan: matching runs on the DISTINCT name domain, the
    only quadratic work is inside noun blocks (candidate-bound), CC
    shuffles one (node, label) pair per edge per round for ≤ diameter
    rounds — each stage's 100-TB story is its parent query's."""
    from ..ml.dedup import connected_components

    part = t(spark, sf_dir, "part")
    base = part.groupBy(F.col("p_name").alias("name")).agg(
        F.min("p_partkey").cast("bigint").alias("key")
    )
    off = int(
        part.agg(F.max("p_partkey")).collect()[0][0]
    ) + 1  # bounded 1-row collect, data-derived offset
    dirty = (
        base.select("key", "name")
        .unionByName(
            base.filter(F.col("key") % 20 == 0).select(
                (F.col("key") + off).alias("key"),
                F.concat("name", F.lit("x")).alias("name"),
            )
        )
        .unionByName(
            base.filter(F.col("key") % 40 == 0).select(
                (F.col("key") + 2 * off).alias("key"),
                F.concat("name", F.lit("xx")).alias("name"),
            )
        )
    )
    a = dirty.select(F.col("key").alias("ka"), F.col("name").alias("na"))
    b = dirty.select(F.col("key").alias("kb"), F.col("name").alias("nb"))
    pairs = (
        a.join(
            b,
            (
                F.split_part(F.col("na"), F.lit(" "), F.lit(2))
                == F.split_part(F.col("nb"), F.lit(" "), F.lit(2))
            )
            & (F.col("ka") < F.col("kb")),
        )
        .filter(F.levenshtein("na", "nb") <= 1)
        .select(F.col("ka").alias("id_a"), F.col("kb").alias("id_b"))
    )
    labels = connected_components(pairs)
    return labels.groupBy(F.col("cluster_id").alias("canonical")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.sum("node").cast("bigint").alias("key_sum"),
    )
