"""Corpus curation pack (SURVEY.md §2-P, round 7): the pretraining
gate-keeping operators between raw crawl and tokenizer that had no
registry entry yet —

(Eval-set decontamination lives in ml/text.py
``q_text_decontaminate`` — round 7 rewired its per-doc gram
dedup map-side via array_distinct after the decontamination probe
(since deleted, see git history) showed the explode-then-distinct
spelling shuffling every
corpus gram; a short-lived duplicate query here was folded
into it.)
- ``q_quality_gopher``: the Gopher rule filter (Rae et al. 2021
  [PK]) in exact integer arithmetic: word-count bounds, mean-word-
  length bounds, duplicate-bigram fraction cap, minimum stopword
  count — each rule a bit in a fail bitmask so downstream can both
  filter and AUDIT which rule fired. Thresholds are fixture-
  calibrated (documented per rule); the rule *structure* is Gopher's.
(The repetition signal already lives in ml/text.py
``q_text_repetition`` — top-bigram and duplicate-trigram
fractions; not duplicated here.)
- ``q_dedup_retention_exact``: exact-duplicate RETENTION POLICY —
  cluster by full-text digest and keep the best member (max n_chars,
  then min doc_id), reporting kept representative + dropped count per
  cluster. This is the decision step every dedup family feeds; md5
  is the cluster key so the oracle is engine-portable (the xxhash64
  fast tier is ml/dedup.py's documented in-Spark upgrade).
- ``q_quality_linear_clf``: learned-filter INFERENCE (the CCNet /
  Llama fastText-classifier shape): per-token weight table broadcast
  onto the token stream, length-normalized integer score, keep bit.

All three are pure DataFrame/SQL — no Python in the hot path — with
exact DuckDB oracles (integer fixed-point only). Fixture documents
have no natural exact duplicates, so q_dedup_retention_exact plants
copies in-plan (the q_dedup_semantic pattern: offset ids derived from
the data, never literal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import pin
from ..registry import register
from ..sources.tables import t
from .text import STOPWORDS as _STOP
from .text import word_ngrams

# Gopher rule thresholds (fixture-calibrated; structure Rae et al.) —
# module-level so the batch gate, its oracle, and the STREAMING twin
# (streaming/queries.py q_stream_quality_gate) share ONE definition
# and the documented batch/stream equivalence cannot silently drift
# (review finding r7).
GOPHER_WORDS = (20, 90)         # word-count bounds
GOPHER_MEANLEN_E1 = (30, 100)   # mean word length, e1 fixed point
GOPHER_DUP_E6 = 120_000         # duplicate-bigram fraction cap, e6
GOPHER_MIN_STOP = 1             # stopword floor


def dup_bigram_census(toks: DataFrame) -> DataFrame:
    """(doc_id, total, dupn) over a frame carrying the token array
    ``w``: per document its word 2-gram count and how many of those
    occur more than once in it (the Gopher duplicate fraction's
    parts)."""
    return (
        toks.select("doc_id", F.explode(word_ngrams(2)).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("total"),
            F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0)).alias("dupn"),
        )
    )


@register(
    "q_quality_gopher",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w, n_chars
        FROM documents
    ),
    big AS (
        SELECT doc_id, w, UNNEST(range(1, len(w))) AS i
        FROM toks WHERE len(w) >= 2
    ),
    bg AS (
        SELECT doc_id, array_to_string(w[i:i + 1], ' ') AS gram
        FROM big
    ),
    bgc AS (
        SELECT doc_id, gram, COUNT(*) AS n FROM bg GROUP BY 1, 2
    ),
    dup AS (
        SELECT doc_id,
               SUM(n) AS total,
               SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS dupn
        FROM bgc GROUP BY doc_id
    ),
    feat AS (
        SELECT t.doc_id,
               CAST(len(t.w) AS BIGINT) AS n_words,
               CAST(t.n_chars * 10 // len(t.w) AS BIGINT) AS mean_len_e1,
               CAST(COALESCE(d.dupn * 1000000 // d.total, 0) AS BIGINT)
                   AS dup_bigram_e6,
               CAST(len(list_filter(t.w,
                    x -> list_contains({list(_STOP)}, x))) AS BIGINT)
                   AS n_stop
        FROM toks t LEFT JOIN dup d ON d.doc_id = t.doc_id
    )
    SELECT doc_id, n_words, mean_len_e1, dup_bigram_e6, n_stop,
           CAST(
               CASE WHEN n_words BETWEEN {GOPHER_WORDS[0]} AND {GOPHER_WORDS[1]} THEN 0 ELSE 1 END
               + CASE WHEN mean_len_e1 BETWEEN {GOPHER_MEANLEN_E1[0]} AND {GOPHER_MEANLEN_E1[1]} THEN 0 ELSE 2 END
               + CASE WHEN dup_bigram_e6 <= {GOPHER_DUP_E6} THEN 0 ELSE 4 END
               + CASE WHEN n_stop >= {GOPHER_MIN_STOP} THEN 0 ELSE 8 END
           AS BIGINT) AS fails
    FROM feat
    """,
    tags=("K4", "P2"),
)
def q_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 [PK]) as an exact-integer
    rule bitmask per document: bit 1 = word count outside [20, 90],
    bit 2 = mean word length outside [3.0, 10.0] (e1 fixed point),
    bit 4 = duplicate-bigram token fraction above 12% (e6), bit 8 =
    fewer than 1 stopword. fails == 0 is the keep set; non-zero masks
    say WHY a document was dropped — the audit trail a production
    filter has to keep (bounds fixture-calibrated, structure
    Gopher's). Differs from ml/text.py q_text_quality, which emits RAW
    quality signals (token count, TTR, stopword ratio) with no
    decision: this query is the downstream GATE — duplicate-bigram
    fraction (a signal q_text_quality lacks) plus a composed rule
    bitmask a pipeline filters on directly.
    Plan: one map-side feature select + one per-doc bigram
    count (the only shuffle, keyed by doc_id so it co-partitions with
    every other per-doc stage); no Python, no floats."""
    d = t(spark, sf_dir, "documents")
    # tokenize ONCE: toks feeds two consumers (the bigram count and
    # the feature select) — materialize it instead of re-scanning and
    # re-splitting per consumer (review finding r7; the
    # q_market_basket rule)
    toks = pin(
        d.select(
            "doc_id", F.split("text", " ").alias("w"), "n_chars"
        ),
        "q_quality_gopher.toks",
    )
    dup = dup_bigram_census(toks)
    stop_arr = F.array(*[F.lit(s) for s in _STOP])
    feat = (
        toks.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("bigint").alias("n_words"),
            F.expr("n_chars * 10 DIV size(w)").cast("bigint").alias("mean_len_e1"),
            F.coalesce(
                F.expr("dupn * 1000000 DIV total"), F.lit(0)
            ).cast("bigint").alias("dup_bigram_e6"),
            F.size(F.filter("w", lambda x: F.array_contains(stop_arr, x)))
            .cast("bigint")
            .alias("n_stop"),
        )
    )
    return feat.select(
        "doc_id",
        "n_words",
        "mean_len_e1",
        "dup_bigram_e6",
        "n_stop",
        (
            F.when(F.col("n_words").between(*GOPHER_WORDS), 0).otherwise(1)
            + F.when(F.col("mean_len_e1").between(*GOPHER_MEANLEN_E1), 0).otherwise(2)
            + F.when(F.col("dup_bigram_e6") <= GOPHER_DUP_E6, 0).otherwise(4)
            + F.when(F.col("n_stop") >= GOPHER_MIN_STOP, 0).otherwise(8)
        ).cast("bigint").alias("fails"),
    )


@register(
    "q_dedup_retention_exact",
    oracle="""
    WITH planted AS (
        SELECT doc_id, text, n_chars FROM documents
        UNION ALL
        SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents),
               text, n_chars
        FROM documents WHERE doc_id % 25 = 0
    ),
    keyed AS (
        SELECT md5(text) AS ck, doc_id, n_chars FROM planted
    ),
    ranked AS (
        SELECT ck, doc_id,
               ROW_NUMBER() OVER (PARTITION BY ck
                                  ORDER BY n_chars DESC, doc_id) AS r,
               COUNT(*) OVER (PARTITION BY ck) AS members
        FROM keyed
    )
    SELECT CAST(doc_id AS BIGINT) AS kept_doc,
           CAST(members AS BIGINT) AS n_members,
           CAST(members - 1 AS BIGINT) AS n_dropped
    FROM ranked WHERE r = 1 AND members > 1
    """,
    tags=("K1", "P4"),
)
def q_dedup_retention_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate RETENTION POLICY: after dedup finds clusters,
    something must decide which member SURVIVES — best-quality-first
    (max n_chars, then min doc_id for determinism), reporting the kept
    representative and dropped count per multi-member cluster. The
    near-dup sibling (ml/dedup.py q_dedup_keep_best) pays a window
    sort inside each connected component because near-dup clusters
    have no key; EXACT clusters do (the text digest), so this spelling
    is a single hash aggregate carrying an ordered struct — no window,
    no per-cluster sort, ONE fixed-width-key shuffle regardless of
    document size: the shape to prefer at 100 TB whenever the cluster
    key is exact. The fixture has no natural exact dups, so copies of
    every 25th document are planted in-plan with data-derived id
    offsets (the q_dedup_semantic pattern). Cluster key is md5(text)
    for oracle portability — production uses xxhash64 (ml/dedup.py's
    fast tier, same plan shape)."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    maxid = F.broadcast(d.agg((F.max("doc_id") + 1).alias("plant0")))
    # plant the copies MAP-SIDE with an explode over [id] / [id,
    # id+plant0] (r12: the union-with-filtered-branch spelling
    # re-scanned documents — text column included — for the planted 4%)
    corpus = d.crossJoin(maxid).select(
        F.explode(
            F.when(
                F.col("doc_id") % 25 == 0,
                F.array(F.col("doc_id"), F.col("doc_id") + F.col("plant0")),
            ).otherwise(F.array(F.col("doc_id")))
        ).alias("doc_id"),
        "text",
        "n_chars",
    )
    keyed = corpus.select(
        F.md5("text").alias("ck"), "doc_id", "n_chars"
    )
    # best member per cluster: single hash aggregate with an ordered
    # struct (max of (n_chars, -doc_id) == max n_chars then min id) —
    # no window, one shuffle on the fixed-width digest
    agg = keyed.groupBy("ck").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.max(
            F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
        ).alias("best"),
    )
    return agg.filter(F.col("n_members") > 1).select(
        (-F.col("best.neg_id")).cast("bigint").alias("kept_doc"),
        "n_members",
        (F.col("n_members") - 1).cast("bigint").alias("n_dropped"),
    )


@register(
    "q_quality_linear_clf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (SELECT DISTINCT w FROM toks),
    wt AS (
        SELECT w,
               CAST(('0x' || substr(md5(w), 1, 8))::BIGINT % 2001 - 1000
                    AS BIGINT) AS wgt
        FROM vocab
    ),
    sc AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(wt.wgt) AS BIGINT) AS raw_score
        FROM toks t JOIN wt ON wt.w = t.w
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(raw_score * 1000 // n_tokens AS BIGINT) AS score_e3,
           raw_score * 1000 // n_tokens > 0 AS keep
    FROM sc
    """,
    tags=("K4", "J1", "P5"),
)
def q_quality_linear_clf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear QUALITY-CLASSIFIER inference — the CCNet / Llama corpus-
    filter shape [PK]: a learned per-token weight table scores each
    document as the length-normalized sum of its tokens' weights, and
    keep = score > bias. The weight table here is derived
    deterministically (md5-prefix hash mapped to [-1000, 1000]) so the
    oracle can rebuild it bit-for-bit — in production it is the
    fastText/logistic artifact, and ONLY the table contents change,
    never the plan. Plan: map-only token explode, the vocabulary-sized
    weight table BROADCASTs onto the token stream (vocab ≪ corpus —
    the same small-side economics as q_decontaminate's eval grams),
    one per-doc sum — the corpus is shuffled once by doc_id and never
    by token. Exact integers end to end: score_e3 is the mean weight
    in e3 fixed point, the keep bit is an integer comparison."""
    d = t(spark, sf_dir, "documents")
    # tokenize ONCE: the token stream feeds the vocab/weight build AND
    # the scoring join (review finding r7; the q_market_basket rule)
    toks = pin(
        d.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        ),
        "q_quality_linear_clf.toks",
    )
    wt = (
        toks.select("w")
        .distinct()
        .select(
            "w",
            (
                md5_int("w", 8)
                % 2001
                - 1000
            ).cast("bigint").alias("wgt"),
        )
    )
    sc = (
        toks.join(F.broadcast(wt), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("wgt").cast("bigint").alias("raw_score"),
        )
    )
    return sc.select(
        "doc_id",
        "n_tokens",
        F.expr("raw_score * 1000 DIV n_tokens").cast("bigint").alias("score_e3"),
        (F.expr("raw_score * 1000 DIV n_tokens") > 0).alias("keep"),
    )


@register(
    "q_select_dsir",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, UNNEST(string_split(text, ' ')) AS w
        FROM documents
    ),
    tb AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(w), 1, 8))::BIGINT % 256 AS b
        FROM tok
    ),
    tgt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
        FROM tb WHERE lang = 'en' GROUP BY b
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS rc FROM tb GROUP BY b),
    tot AS (
        SELECT (SELECT COUNT(*) FROM tb WHERE lang = 'en') AS tt,
               (SELECT COUNT(*) FROM tb) AS rt
    ),
    lr AS (
        SELECT raw.b,
               CAST(ROUND(LN(((COALESCE(tgt.tc, 0) + 1) * (tot.rt + 256.0))
                             / ((raw.rc + 1) * (tot.tt + 256.0)))
                          * 1000000, 0) AS BIGINT) AS lr_e6
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot
    ),
    sc AS (
        SELECT tb.doc_id, tb.lang,
               CAST(COUNT(*) AS BIGINT) AS n_tok,
               CAST(SUM(lr.lr_e6) AS BIGINT) AS dsir_e6
        FROM tb JOIN lr ON lr.b = tb.b
        GROUP BY tb.doc_id, tb.lang
    )
    SELECT doc_id, lang, n_tok, dsir_e6
    FROM sc ORDER BY dsir_e6 DESC, doc_id LIMIT 20
    """,
    tags=("K4", "P5", "B6"),
)
def q_select_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, public paper): score every raw-corpus document by how much
    more likely its HASHED n-gram features are under the target
    domain's unigram feature distribution than under the raw corpus's,
    w(x) = Σ_tokens log(p_target(b)/p_raw(b)) over 256 md5 hash
    buckets with add-1 smoothing — the importance weight the paper
    resamples by (deterministic top-k here; the Gumbel-noise sampler
    is one extra column). Target = the 'en' slice standing in for the
    high-quality domain, raw = the whole corpus, exactly the
    wiki-vs-crawl shape of the paper.

    Determinism discipline: one double LN per BUCKET (256 of them)
    fixed to e6 at the dictionary level — the same treatment as
    BM25's idf and the perplexity LM — so every per-doc sum is an
    exact integer in any aggregation order; the hash is the
    engine-portable md5-prefix family (any system reproduces the
    bucketing from the token alone).

    Plan: tokenize ONCE (pinned — the q_market_basket rule),
    two bucket-sized aggregates + one bounded 2-scalar collect build
    the 256-row log-ratio dictionary, which BROADCASTS back onto the
    token stream; the corpus shuffles once by doc_id and never by
    token — at 100 TB the dictionary stays 256 rows no matter the
    corpus, which is the entire point of hashed DSIR over exact-vocab
    importance weights. Top-20 by (dsir_e6, doc_id) plans as
    TakeOrderedAndProject, no global sort."""
    d = t(spark, sf_dir, "documents")
    tb = pin(
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
        .select(
            "doc_id",
            "lang",
            (
                md5_int("w", 8)
                % 256
            ).alias("b"),
        ),
        "q_select_dsir.tb",
    )
    tot = tb.agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
        F.count("*").alias("rt"),
    ).collect()[0]  # bounded: 2 scalars
    tt, rt = int(tot["tt"]), int(tot["rt"])
    tgt = (
        tb.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("bigint").alias("tc"))
    )
    raw = tb.groupBy("b").agg(F.count("*").cast("bigint").alias("rc"))
    lr = raw.join(tgt, "b", "left").select(
        "b",
        F.round(
            F.log(
                ((F.coalesce(F.col("tc"), F.lit(0)) + 1) * F.lit(rt + 256.0))
                / ((F.col("rc") + 1) * F.lit(tt + 256.0))
            )
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("lr_e6"),
    )
    return (
        tb.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum("lr_e6").cast("bigint").alias("dsir_e6"),
        )
        .orderBy(F.desc("dsir_e6"), "doc_id")
        .limit(20)
    )
