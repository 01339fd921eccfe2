"""Corpus-scale retrieval / tokenizer-prep operators (SURVEY.md §2-K4
extension, round 5): the remaining ops a 100-TB training-data pipeline
runs between raw text and the trainer that were not yet first-class —
an inverted index, BM25 retrieval over it, BPE merge-candidate
counting (the distributed inner loop of tokenizer training), a
deterministic portable corpus shuffle, and document-frequency
boilerplate detection.

All five are pure DataFrame/SQL (no Python in the hot path) and carry
exact DuckDB oracles; float-bearing scores use the repo's fixed-point
bigint pattern (plans/tpch.py `_cents`) so cross-engine summation
order cannot flip a rounding boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df, pin
from ..operators.stats import _XY_SUMS_SQL, comoment, moment_census
from ..registry import register
from ..sources.tables import t


@register(
    "q_text_inverted_index",
    oracle="""
    WITH tok AS (
        SELECT DISTINCT doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT word, COUNT(*) AS df,
           array_to_string(list_sort(list(doc_id)), ',') AS postings
    FROM tok CROSS JOIN n
    GROUP BY word, n.n_docs
    HAVING COUNT(*) * 5 >= n_docs * 2
    """,
    tags=("K4", "D8"),
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: term → sorted posting list of containing docs —
    the retrieval structure behind corpus search and decontamination
    at scale. One explode + one groupBy(word) shuffle; posting lists
    are built with collect_list over pre-deduped (doc, word) pairs,
    sorted for a deterministic value, and emitted as a comma-joined
    STRING (the repo's driver-sortable array convention, cf.
    q_fn_array_set functions/scalar.py — a raw array<bigint> column
    crashes the driver canonicalizer's row sort; VERDICT r5 §wrong-1).
    Output bounded to high-df terms (df ≥ 40% of docs) purely to keep
    the compared result small; the full index is the same plan without
    the HAVING. At 100 TB the posting lists would be range-bucketed by
    term and delta-encoded at write; the shuffle shape is identical."""
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # bounded scalar (count of the corpus table)
    # per-doc word dedup map-side (array_distinct before the explode —
    # doc_id is constant within a row), so the postings build is ONE
    # shuffle on word instead of distinct + groupBy (two)
    tok = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("word"),
    )
    return (
        tok.groupBy("word")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") * 5 >= n_docs * 2)
    )


_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_QUERY = ("table", "join", "vector")


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{w}')" for w in _BM25_QUERY)
    return f"""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_len FROM dl),
    q(word) AS (VALUES {terms}),
    tf AS (
        SELECT tok.doc_id, tok.word, COUNT(*) AS tf
        FROM tok JOIN q USING (word)
        GROUP BY tok.doc_id, tok.word
    ),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
    scored AS (
        SELECT tf.doc_id,
               CAST(ROUND(
                 LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * (tf.tf * ({_BM25_K1} + 1.0))
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * dl.dl * stats.n_docs / stats.total_len))
                 * 1000000, 0) AS BIGINT) AS term_score_e6
        FROM tf
        JOIN df USING (word)
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id, CAST(SUM(term_score_e6) AS BIGINT) AS score_e6
    FROM scored GROUP BY doc_id
    ORDER BY score_e6 DESC, doc_id
    LIMIT 20
    """


@register("q_text_bm25", oracle=_bm25_oracle(), tags=("K4", "D1", "F2"))
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed query over the
    inverted-index dataflow: tf per (doc, query-term), df per term,
    per-doc length norm. Each term's score is fixed-pointed to e6
    BEFORE the per-doc sum, so the sum is an exact integer in any
    partial order — the repo's standard float-determinism treatment.
    Top-20 by (score, doc_id) plans as TakeOrderedAndProject. The
    query-term filter is applied map-side right after the explode; at
    100 TB the tf table shuffles once on word, same as q_text_tfidf.

    Plan shape: per-doc length is size(split(text)) — computed
    map-side, NOT via a full-corpus explode+groupBy (that re-shuffles
    every token just to count them; removing it cut one of the two
    full-corpus shuffles), and the query-term filter is an isin
    predicate in the same map stage, so only matching tokens ever
    shuffle."""
    d = t(spark, sf_dir, "documents")
    # pinned (doc_id, dl) length frame: the corpus-stats collect and
    # the per-doc norm join both need it — unpinned, each re-paid the
    # full-text split pass
    dl = pin(
        d.select(
            "doc_id", F.size(F.split("text", " ")).alias("dl")
        ),
        "q_text_bm25.dl",
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("total_len")
    ).collect()[0]
    n_docs, total_len = stats["n_docs"], stats["total_len"]
    # pinned query-term tf census (tiny: only matching tokens survive
    # the map-side isin); df is its marginal — unpinned, the df subtree
    # re-ran the corpus tokenize
    tf = pin(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word").isin(*_BM25_QUERY))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf")),
        "q_text_bm25.tf",
    )
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") * float(n_docs) / float(total_len)
    )
    term_score = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / norm
    scored = (
        tf.join(F.broadcast(df), "word")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.round(term_score * 1_000_000, 0).cast("bigint").alias("term_score_e6"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("term_score_e6").alias("score_e6"))
        .orderBy(F.desc("score_e6"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "q_text_bpe_pairs",
    oracle="""
    WITH wf AS (
        SELECT w AS word, COUNT(*) AS freq
        FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
        GROUP BY w
    ),
    pairs AS (
        SELECT UNNEST(list_transform(range(1, length(word)),
                      i -> substring(word, CAST(i AS INT), 2))) AS pair,
               freq
        FROM wf WHERE length(word) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
    FROM pairs GROUP BY pair HAVING SUM(freq) >= 100
    """,
    tags=("K4",),
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-candidate counting — the distributed inner loop of
    tokenizer training: adjacent symbol-pair frequencies over the word
    frequency table (first merge iteration; later iterations re-run
    the same plan over re-segmented words). Counting over DISTINCT
    words weighted by corpus frequency is the standard optimization —
    the pair explode touches |vocab| rows, not |corpus| tokens, which
    at 100 TB is the difference between gigabytes and the full corpus.
    All integer; HAVING bounds the compared output."""
    d = t(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1),"
                   " i -> substring(word, i, 2))")
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .filter(F.col("n") >= 100)
    )


@register(
    "q_corpus_shuffle",
    oracle="""
    SELECT CAST(ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR) || '-seed42'), doc_id)
           AS BIGINT) AS pos,
           doc_id
    FROM documents
    QUALIFY pos <= 100
    """,
    tags=("K4", "F1"),
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded corpus shuffle — the global reorder every
    training run needs so examples arrive decorrelated from crawl
    order, reproducible across engines and re-runs (md5 of doc_id +
    seed is portable; change the seed string for a fresh permutation).
    Exposed as the first 100 (pos, doc_id) assignments.

    Scale spelling (replaces round-5's full-corpus single-partition
    ROW_NUMBER window): the top-100 by shuffle key plans as
    TakeOrderedAndProject — each partition emits its local top-100 and
    the driver merges — then positions are numbered over only those
    100 survivors (the one remaining window runs on a 100-row frame).
    The FULL shuffled corpus is written by shuffled_corpus() below via
    repartitionByRange(key) + sortWithinPartitions — one range
    shuffle, no global ordering ever materialized."""
    d = t(spark, sf_dir, "documents")
    key = _shuffle_key("doc_id", 42)
    from pyspark.sql import Window

    head = (
        d.select("doc_id", key.alias("_k"))
        .orderBy("_k", "doc_id")
        .limit(100)
    )
    w = Window.orderBy("_k", "doc_id")  # 100 rows — bounded by the limit
    return (
        head.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("pos", "doc_id")
    )


def _shuffle_key(doc_id_col: str, seed: int):
    """Portable deterministic permutation key: md5(doc_id || '-seed<n>')."""
    return F.md5(
        F.concat(F.col(doc_id_col).cast("string"), F.lit(f"-seed{seed}"))
    )


def shuffled_corpus(df: DataFrame, seed: int = 42, partitions: int = 32) -> DataFrame:
    """The 100-TB corpus-shuffle path: assign every row its portable
    md5 permutation key, RANGE-partition on it (one shuffle; range
    bounds from Spark's reservoir sample of the key space), and sort
    only WITHIN partitions — reading partition files in partition order
    yields the exact global permutation without any single-partition
    window or driver-side ordering. The trainer consumes partitions
    independently (each is a contiguous slice of the permutation), so
    this is also the shape that feeds per-worker data loaders.
    Returns the frame with the key attached (callers write it
    partition-ordered; q_corpus_shuffle's bounded head is the
    oracle-checked view of the same ordering)."""
    key = _shuffle_key("doc_id", seed)
    return (
        df.withColumn("_shuffle_key", key)
        .repartitionByRange(partitions, "_shuffle_key", "doc_id")
        .sortWithinPartitions("_shuffle_key", "doc_id")
    )


@register(
    "q_text_boilerplate",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    bg AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(range(1, len(ws)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        FROM toks
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT bigram, COUNT(*) AS df,
           ROUND(COUNT(*) / (1.0 * n.n_docs), 6) AS doc_share
    FROM bg CROSS JOIN n
    GROUP BY bigram, n.n_docs
    HAVING COUNT(*) * 50 >= n_docs
    """,
    tags=("K4", "K2"),
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate n-gram detection by DOCUMENT frequency: bigrams
    present in ≥2% of documents (distinct-per-doc, unlike
    q_text_ngrams' occurrence counts). This is the hot-shingle census
    that motivates the prefix-filtered similarity join (ml/dedup.py):
    at crawl scale these are the license footers and nav bars that
    blow up naive all-pairs dedup, and the list feeds stop-shingle
    exclusion. The share division is a single int/int op — identical
    doubles on both engines.

    Plan shape: per-doc dedup is MAP-SIDE (array_distinct on the gram
    array before exploding — doc_id is constant within a row, so it
    equals SELECT DISTINCT doc_id, bigram), leaving ONE shuffle with
    partial aggregation for the df count. The earlier explode+distinct
    formulation paid two full shuffles and ran 2.4 s at sf0.1; this
    runs in one. Gram construction is O(1)-per-gram element_at (the
    slice-inside-transform idiom copies O(len) per gram — measured
    4.6× slower at sf0.1), guarded for <2-token docs where
    sequence(1, size−1) would turn descending."""
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()
    # project the token array ONCE — repeating split() inside the
    # lambda re-evaluates it per element (no CSE across a lambda
    # boundary; measured 7× the cost)
    ws = d.select(F.split("text", " ").alias("ws"))
    grams = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(1, size(ws) - 1), "
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1))) "
        "ELSE array() END"
    )
    bg = ws.select(F.explode(F.array_distinct(grams)).alias("bigram"))
    return (
        bg.groupBy("bigram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") * 50 >= n_docs)
        .select(
            "bigram",
            "df",
            F.round(F.col("df") / (1.0 * n_docs), 6).alias("doc_share"),
        )
    )


def _merge_pair(col, left: str, right: str):
    """Greedy left-to-right fuse of one (left, right) symbol pair in an
    array<string> column — a pure Catalyst fold (no regex, so symbols
    containing regex metacharacters are safe), identical in semantics
    to the reference algorithm's sequential scan."""
    fused = F.lit(left + right)
    return F.aggregate(
        col,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(fused)),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """The BPE training loop shared by q_text_bpe_train (which exposes
    the merge table) and q_text_bpe_encode (which applies it): runs
    over the WORD FREQUENCY table, never the corpus; each iteration is
    an explode+aggregate over |vocab| rows weighted by freq plus a
    1-row argmax collect; lineage truncated by a pin every 3 merges
    (the graph-loop pattern). Ties break on (count desc, left
    asc, right asc) — total order, deterministic merge table."""
    d = t(spark, sf_dir, "documents")
    # one bounded vocab table; frees the scan
    wf = pin(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select(
            F.expr("array_append(split(word, ''), '</w>')").alias("seq"), "freq"
        ),
        "train_bpe.wf",
    )
    merges: list[tuple[int, str, str, int]] = []
    for step in range(n_merges):
        pairs = wf.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(seq) - 1), "
                    "i -> struct(element_at(seq, i) AS l, "
                    "element_at(seq, i + 1) AS r))"
                )
            ).alias("p"),
            "freq",
        ).select("p.l", "p.r", "freq")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()  # bounded: exactly one row per iteration
        )
        if not best or best[0]["n"] < 2:
            break
        left, right, n = best[0]["l"], best[0]["r"], int(best[0]["n"])
        merges.append((step, left, right, n))
        wf = wf.withColumn("seq", _merge_pair(F.col("seq"), left, right))
        if (step + 1) % 3 == 0:
            wf = pin(wf, "train_bpe.merged")
    return merges


@register("q_text_bpe_train", oracle=None, tags=("K6", "iterative", "rows-only"))
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (Sennrich et al. 2016 [PK]) — the
    iterative loop whose single inner step q_text_bpe_pairs exposes:
    N greedy merges, each picking the most frequent adjacent symbol
    pair over the corpus and fusing it everywhere before recounting.
    See train_bpe for the distributed shape (vocab-weighted counting,
    Catalyst-fold merges, bounded 1-row collects). The learned merge
    table is pinned EXACTLY against a pure-Python reference in
    tests/test_ml_self_oracles.py::test_bpe_train_matches_reference
    (iterative argmax is not one SQL query => rows-only here)."""
    merges = train_bpe(spark, sf_dir, n_merges=12)
    return local_df(
        spark, merges, "step int, left string, right string, pair_count bigint"
    )


@register("q_text_bpe_encode", oracle=None, tags=("K6", "iterative", "rows-only"))
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING — the apply side that completes the tokenizer
    loop (train → encode → pack): tokenize the corpus with the first 8
    learned merges and account tokens per document. The encode reuses
    training's central economy: merges apply once per DISTINCT word
    (|vocab| folds), then a broadcast join maps every corpus word to
    its token count — at 100 TB the corpus pass is one map-side join
    against a vocab-sized dictionary, which is exactly how production
    tokenizers amortize (encode the vocab, stream the corpus). Output:
    per-doc word count and BPE token count (token = symbol after
    merging, including the </w> marker). Pinned EXACTLY against a
    pure-Python reference encoder in tests/test_ml_self_oracles.py::
    test_bpe_encode_matches_reference (rows-only: iterative)."""
    merges = train_bpe(spark, sf_dir, n_merges=8)
    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    ).filter(F.length("word") >= 1)
    vocab = (
        words.select("word")
        .distinct()
        .select(
            "word", F.expr("array_append(split(word, ''), '</w>')").alias("seq")
        )
    )
    for i, (_, left, right, _) in enumerate(merges):
        vocab = vocab.withColumn("seq", _merge_pair(F.col("seq"), left, right))
        if (i + 1) % 3 == 0:
            vocab = pin(vocab, "q_text_bpe_encode.merged")
    sizes = vocab.select("word", F.size("seq").cast("bigint").alias("n_tok"))
    return (
        words.join(F.broadcast(sizes), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
    )


@register(
    "q_sample_negatives",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    draws AS (
        SELECT d.doc_id, i.neg_ix,
               CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '-'
                    || CAST(i.neg_ix AS VARCHAR) || '-negseed42'), 1, 8)
                    AS BIGINT) % (n.n_docs - 1) AS raw
        FROM documents d
        CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS neg_ix) i
        CROSS JOIN n
    )
    SELECT doc_id, neg_ix,
           raw + CASE WHEN raw >= doc_id THEN 1 ELSE 0 END AS neg_id
    FROM draws
    """,
    tags=("K4", "B6", "composite"),
)
def q_sample_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling — the contrastive/ranking
    training-prep step that pairs every anchor document with k
    pseudo-random negatives, reproducible across engines and re-runs
    (md5 of doc_id·draw-index·seed, the q_corpus_shuffle recipe): draw
    uniformly over n−1 slots and shift past the anchor, the classic
    bijection [0, n−2] onto the non-anchor ids, so self-pairs are impossible
    BY CONSTRUCTION, not by rejection-resampling (which would need a
    data-dependent loop). Relies on the fixture's dense 0..n−1 doc_id
    space (true at every sf; at 100 TB the dense id is the row_number
    the corpus shuffle already assigns). Map-side only — the two
    crosses are a 3-row literal and a 1-row count, nothing shuffles
    but the count."""
    d = t(spark, sf_dir, "documents")
    n_docs = d.count()  # bounded: one scalar
    draws = d.select("doc_id").crossJoin(
        F.broadcast(
            d.sparkSession.range(1, 4).select(F.col("id").alias("neg_ix"))
        )
    )
    h = md5_int(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("-"),
            F.col("neg_ix").cast("string"),
            F.lit("-negseed42"),
        ),
        8,
    )
    raw = h % F.lit(n_docs - 1)
    return draws.select(
        "doc_id",
        "neg_ix",
        (raw + F.when(raw >= F.col("doc_id"), 1).otherwise(0)).alias("neg_id"),
    )


# ---------------------------------------------------------------------------
# Temperature-weighted corpus mixing — the "data mixture" step every
# multi-domain pretraining run applies (sample domain d with
# probability ∝ n_d^α, α<1 flattening the head so low-resource domains
# are over-represented relative to their raw share; the Pile / LLaMA /
# mT5 recipe). α = 0.5 here.
# ---------------------------------------------------------------------------


@register(
    "q_mix_temperature",
    oracle="""
    WITH per AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    w AS (SELECT lang, n,
                 CAST(FLOOR(SQRT(n) * 1000 + 0.5) AS BIGINT) AS w_e3
          FROM per),
    thr AS (SELECT lang, n,
                   LEAST(1000000,
                         (200 * w_e3 * 1000000)
                             // ((SELECT SUM(w_e3) FROM w) * n)) AS rate_e6
            FROM w),
    u AS (SELECT doc_id, lang,
                 ('0x' || substring(
                      md5(CAST(doc_id AS VARCHAR) || '-mix42'), 1, 8)
                 )::BIGINT % 1000000 AS u
          FROM documents)
    SELECT u.lang,
           CAST(t.n AS BIGINT) AS n_docs,
           CAST(t.rate_e6 AS BIGINT) AS rate_e6,
           CAST(COUNT(CASE WHEN u.u < t.rate_e6 THEN 1 END) AS BIGINT)
               AS n_selected
    FROM u JOIN thr t ON u.lang = t.lang
    GROUP BY u.lang, t.n, t.rate_e6
    """,
    tags=("K4", "B6"),
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (α=0.5) mixture sampling across languages:
    each domain's sampling rate is N_target·n^α / (Σ n^α · n), capped
    at 1 — raw-share-heavy domains (en) are DOWN-sampled and tail
    domains (fr/de) kept nearly whole, the standard multi-domain
    pretraining mixture. Everything is engine-exact: weights are
    half-up e3 fixed-point of IEEE sqrt (correctly rounded in both
    engines), the rate is a truncating division of non-negative
    bigints, and membership is the portable 32-bit md5-prefix uniform
    (same family as q_split_kfold) against that rate — so the SELECTED
    SET, not just its size, is reproducible from doc_id alone in any
    engine, which is what makes a mixture re-runnable after a pipeline
    rewrite. BIGINT headroom (review finding — the first cut's e6
    weights overflowed at ~4.4e8 docs/domain, silently wrapping in
    non-ANSI Spark while DuckDB errors): with e3 weights the
    denominator Σw·n stays exact to ~4e10 docs in the largest domain
    — past any 100-TB corpus (~1e9–1e10 docs); beyond that promote
    the rate arithmetic to DECIMAL(38,0)/HUGEINT, and scale N_target
    with it. Plan: one tiny groupBy(lang) pass for the rate table
    (window-summed over ≤|domains| rows), broadcast back onto the
    scan, one conditional re-aggregation — two shuffles of fixed-width
    rows; the per-doc decision is map-side and embarrassingly
    parallel at 100 TB."""
    d = t(spark, sf_dir, "documents")
    w = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n"))
        .withColumn(
            "w_e3",
            F.expr(
                "CAST(FLOOR(SQRT(CAST(n AS DOUBLE)) * 1000 + 0.5)"
                " AS BIGINT)"
            ),
        )
    )
    # Σw over the ≤|domains|-row frame: the unpartitioned window is a
    # deliberate single-partition op on a tiny aggregate, not the scan
    thr = w.withColumn(
        "rate_e6",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.expr(
                "(200 * w_e3 * 1000000)"
                " DIV ((SUM(w_e3) OVER ()) * n)"
            ),
        ),
    ).select("lang", "n", "rate_e6")
    u = md5_int(F.concat(F.col("doc_id").cast("string"), F.lit("-mix42")), 8) % 1000000
    return (
        d.select("doc_id", "lang", u.alias("u"))
        .join(F.broadcast(thr), "lang")
        .groupBy("lang", "n", "rate_e6")
        .agg(
            F.count(F.when(F.col("u") < F.col("rate_e6"), 1))
            .cast("bigint")
            .alias("n_selected")
        )
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("rate_e6").cast("bigint").alias("rate_e6"),
            "n_selected",
        )
    )


@register(
    "q_text_vocab_growth",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents),
    firsts AS (SELECT word, MIN(doc_id) AS fd FROM tok GROUP BY word),
    nv AS (SELECT (fd * 10) // (SELECT MAX(doc_id) + 1 FROM documents)
                      AS bucket,
                  COUNT(*) AS new_words
           FROM firsts GROUP BY 1),
    tk AS (SELECT (doc_id * 10) // (SELECT MAX(doc_id) + 1 FROM documents)
                      AS bucket,
                  COUNT(*) AS tokens
           FROM tok GROUP BY 1)
    SELECT CAST(tk.bucket AS BIGINT) AS bucket,
           CAST(tk.tokens AS BIGINT) AS tokens,
           CAST(COALESCE(nv.new_words, 0) AS BIGINT) AS new_words,
           CAST(SUM(tk.tokens) OVER (ORDER BY tk.bucket) AS BIGINT)
               AS cum_tokens,
           CAST(SUM(COALESCE(nv.new_words, 0)) OVER (ORDER BY tk.bucket)
               AS BIGINT) AS cum_vocab
    FROM tk LEFT JOIN nv USING (bucket)
    """,
    tags=("K4", "E3"),
)
def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps'-law) curve: cumulative distinct
    vocabulary vs cumulative tokens across ten corpus prefixes in
    doc_id order — the diagnostic that tells a data curator whether
    more crawl still buys new vocabulary or only repetition (and the
    sanity check behind tokenizer-budget choices). The distributed
    trick: "is word w new in bucket b" needs no per-prefix distinct —
    each word's FIRST occurrence doc (one groupBy(word) MIN) fully
    determines the curve, so the whole thing is two shuffles (token
    census by bucket, first-occurrence census by bucket) joined on a
    10-row frame, where the naive per-prefix COUNT(DISTINCT) would
    rescan the corpus 10 times. Cumulative sums run on the 10-row
    result — the unpartitioned window never touches the scan. The
    bucket denominator MAX(doc_id)+1 stays IN-PLAN as a broadcast
    1-row frame (the q_eval_pr_curve scalar pattern) — an eager
    collect here would run a hidden job at DataFrame-construction time
    and crash on an empty corpus (review finding)."""
    d = t(spark, sf_dir, "documents")
    nd = F.broadcast(
        d.agg((F.max("doc_id") + 1).alias("nd"))
    )
    tok = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    # integer DIV (not double /): exact at any doc_id magnitude, and
    # identical to the oracle's // on non-negative operands.
    # ONE tokenize pass builds the (bucket, word) census (≤ 10·|vocab|
    # rows, pinned); both curves are its marginals: tokens per bucket
    # = Σ counts, and a word's first-occurrence bucket = its MIN bucket
    # (bucket is monotone in doc_id, so bucket(min doc) = min bucket).
    # Unpinned, nv and tk each re-ran the explode over the corpus.
    c = pin(
        tok.crossJoin(nd)
        .groupBy(
            F.expr("CAST((doc_id * 10) DIV nd AS BIGINT)").alias("bucket"),
            "word",
        )
        .agg(F.count("*").alias("cnt")),
        "q_text_vocab_growth.c",
    )
    nv = (
        c.groupBy("word")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("new_words"))
    )
    tk = c.groupBy("bucket").agg(F.sum("cnt").alias("tokens"))
    from pyspark.sql import Window as _W

    ten = tk.join(nv, "bucket", "left").select(
        "bucket",
        F.col("tokens").cast("bigint").alias("tokens"),
        F.coalesce("new_words", F.lit(0)).cast("bigint").alias("new_words"),
    )
    w = _W.orderBy("bucket")  # 10-row frame
    return ten.select(
        "bucket",
        "tokens",
        "new_words",
        F.sum("tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("new_words").over(w).cast("bigint").alias("cum_vocab"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (Kudo 2018 [PK]) — the OTHER major subword
# family next to BPE above: instead of greedy merges, hold a piece
# vocabulary with probabilities and EM-fit it, segmenting each word by
# Viterbi under the current piece log-probs. Deterministic, integer-
# scored variant: log-probs as e6 integers, so every DP comparison is
# exact and the whole trainer is bit-reproducible on any partitioning.
# ---------------------------------------------------------------------------

UNI_MAXL = 4  # max piece length in the seed inventory
UNI_SEED_V = 48  # multi-char seed pieces kept (plus ALL single chars)
UNI_ITERS = 2  # EM iterations
UNI_TOPK = 20  # reported vocabulary head


def _uni_lp_table(counts: dict[str, int]) -> dict[str, int]:
    """Piece log-probs as e6 integers: lp = round(ln(c/total)·1e6).
    The only float op in the trainer; everything downstream (Viterbi
    sums, comparisons) is exact BIGINT."""
    import math

    total = sum(counts.values())
    return {
        p: round(math.log(c / total) * 1_000_000) for p, c in counts.items()
    }


def _uni_viterbi(word: str, lp: dict[str, int], maxl: int) -> list[str]:
    """Deterministic Viterbi segmentation: maximize Σ lp_e6; ties →
    fewer pieces; remaining ties → lexicographically smallest piece
    sequence. All-integer scores make the argmax exact."""
    n = len(word)
    # best[i] = (neg_score, n_pieces, seq) for word[:i]; tuple compare
    # gives the deterministic total order (min = best)
    best: list[tuple] = [None] * (n + 1)  # type: ignore[list-item]
    best[0] = (0, 0, ())
    for i in range(1, n + 1):
        cand = []
        for j in range(max(0, i - maxl), i):
            piece = word[j:i]
            if best[j] is not None and piece in lp:
                s, k, seq = best[j]
                cand.append((s - lp[piece], k + 1, seq + (piece,)))
        best[i] = min(cand) if cand else None
    assert best[n] is not None, f"unsegmentable word {word!r}"
    return list(best[n][2])


def train_unigram(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, dict[str, int]]:
    """The unigram-LM EM loop shared by q_text_unigram_train and the
    pytest reference check. Distributed shape (the train_bpe economy,
    one level stronger): ONE corpus shuffle builds the word-frequency
    table; the seed inventory and every E-step run over DISTINCT
    words only, with the vocab-sized model (piece → lp_e6 ints)
    shipped to executors inside an Arrow-batched pandas UDF closure —
    at 100 TB the corpus is touched once, and each EM iteration costs
    one explode+aggregate over the word VOCABULARY plus a V-row
    collect. Returns (final usage DataFrame, final lp table)."""
    from pyspark.sql.types import ArrayType, StringType

    d = t(spark, sf_dir, "documents")
    wf = pin(
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq")),
        "train_unigram.wf",
    )
    # Seed inventory: every substring of length 1..UNI_MAXL of every
    # distinct word, weighted by word freq — map-side slice transform,
    # one vocab-keyed aggregate, then a bounded (V-row) collect. All
    # single chars are kept unconditionally so every word stays
    # segmentable; multi-char pieces compete for UNI_SEED_V slots on
    # (count desc, piece asc).
    subs = wf.select(
        F.explode(
            F.expr(
                # filter keeps l ≤ len(word): sequence(1, n) with n < 1
                # DESCENDS ([1, 0]) instead of being empty, which would
                # double-count whole-word pieces for short words
                f"""flatten(transform(
                       filter(sequence(1, {UNI_MAXL}),
                              l -> l <= length(word)),
                       l -> transform(sequence(1, length(word) - l + 1),
                           i -> substring(word, i, l))))"""
            )
        ).alias("piece"),
        "freq",
    ).groupBy("piece").agg(F.sum("freq").cast("bigint").alias("n"))
    singles = {
        r["piece"]: int(r["n"])
        for r in subs.filter(F.length("piece") == 1).collect()
    }
    multi = subs.filter(F.length("piece") > 1).orderBy(
        F.desc("n"), F.asc("piece")
    ).limit(UNI_SEED_V).collect()
    counts = dict(singles)
    counts.update({r["piece"]: int(r["n"]) for r in multi})

    usage_df = None
    lp: dict[str, int] = {}
    for _ in range(UNI_ITERS):
        lp = _uni_lp_table(counts)
        lp_local = dict(lp)

        def _segment(words):
            return words.map(lambda w: _uni_viterbi(w, lp_local, UNI_MAXL))

        # unannotated function + explicit returnType: `from __future__
        # annotations` stringifies hints on nested defs, which
        # pandas_udf's signature inspector rejects
        segment = F.pandas_udf(_segment, ArrayType(StringType()))

        usage_df = (
            wf.select(F.explode(segment("word")).alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").cast("bigint").alias("usage"))
        )
        used = {
            r["piece"]: int(r["usage"]) for r in usage_df.collect()
        }  # bounded: ≤ V rows
        # M-step: longer pieces live on their usage (0 → pruned);
        # single chars are floored at +1 so coverage never breaks
        counts = {
            p: used.get(p, 0) + 1 for p in singles
        }
        counts.update(
            {p: u for p, u in used.items() if len(p) > 1 and u > 0}
        )
    assert usage_df is not None
    return usage_df, lp


@register(
    "q_text_unigram_train", oracle=None, tags=("K6", "iterative", "rows-only")
)
def q_text_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIGRAM-LM TOKENIZER TRAINING (Kudo 2018 [PK], the SentencePiece
    default) — completes the subword family next to q_text_bpe_train:
    seed a piece inventory from weighted substrings, then EM — E-step
    Viterbi-segments every DISTINCT word under integer e6 log-probs
    (exact DP: ties → fewer pieces → lexicographic), M-step re-counts
    piece usage (single chars floored so coverage never breaks,
    unused longer pieces pruned). Deterministic end to end: the one
    float op (ln) is frozen into the e6 model table before anything
    distributed consumes it, so the result is bit-identical on any
    partitioning — pinned EXACTLY against an independent pure-Python
    EM in tests/test_ml_self_oracles.py::
    test_unigram_train_matches_reference (iterative + DP ⇒ rows-only).
    Output: the final vocabulary head — top pieces by corpus usage.
    Plan: corpus shuffled ONCE into the word-frequency table; seeding
    and every E-step are vocab-frame explode+aggregates with the
    model broadcast in an Arrow UDF closure; V-row bounded collects
    between iterations (the train_bpe economy)."""
    usage_df, _ = train_unigram(spark, sf_dir)
    return usage_df.orderBy(F.desc("usage"), F.asc("piece")).limit(UNI_TOPK)


# Zipf fit depth: OLS over the top-K rank-frequency points. K is a
# dictionary-scale constant (the head of the vocabulary), so every
# post-census frame below is <= K rows regardless of corpus size.
ZIPF_TOP_K = 100


@register(
    "q_text_zipf",
    oracle=f"""
    WITH tok AS (
        SELECT UNNEST(string_split(text, ' ')) AS word FROM documents
    ),
    counts AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
    top AS (
        SELECT word, cnt,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rnk
        FROM counts
        ORDER BY cnt DESC, word LIMIT {ZIPF_TOP_K}
    ),
    pts AS (
        SELECT CAST(ROUND(LN(CAST(rnk AS DOUBLE)) * 1000000, 0) AS BIGINT)
                   AS x,
               CAST(ROUND(LN(CAST(cnt AS DOUBLE)) * 1000000, 0) AS BIGINT)
                   AS y
        FROM top
    ),
    s AS (
        SELECT {_XY_SUMS_SQL}
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000, 0)
                AS BIGINT) AS slope_e6,
           CAST(ROUND((CAST(sy AS DOUBLE)
                       - CAST(n * sxy - sx * sy AS DOUBLE)
                         / CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(sx AS DOUBLE))
                      / CAST(n AS DOUBLE), 0) AS BIGINT) AS intercept_e6
    FROM s
    """,
    tags=("K4", "K6", "D10"),
)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIPF-LAW FIT — the OLS slope of log-frequency on log-rank over
    the top-{ZIPF_TOP_K} vocabulary head: the companion diagnostic to
    q_text_vocab_growth (Heaps), telling a curator whether a corpus
    has the natural-language ~-1 head slope or the flat profile of
    templated/synthetic text (a standard crawl-quality fingerprint).
    Both axes are e6-FIXED LOGS of exact integers at the
    {ZIPF_TOP_K}-row dictionary level (the q_select_dsir fixing — each
    LN sees the same clean integer in both engines); the OLS closed
    form then runs entirely in DECIMAL(38,0) with the final divisions
    on identical operands, so both engines round identically.

    Plan: ONE map-side-combined token census down to the vocabulary
    domain, a top-K selection (TakeOrdered shape — never a full sort
    of the census), and an OLS aggregate over <= {ZIPF_TOP_K} rows.
    The corpus is scanned once; nothing row-scale is ever windowed."""
    tok = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    counts = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), "word").limit(ZIPF_TOP_K)
    w = Window.orderBy(F.col("cnt").desc(), "word")
    pts = top.select(F.row_number().over(w).alias("rnk"), "cnt").select(
        F.round(F.log(F.col("rnk").cast("double")) * 1000000, 0)
        .cast("bigint")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")) * 1000000, 0)
        .cast("bigint")
        .alias("y"),
    )
    slope = comoment("x", "y").cast("double") / comoment("x", "x").cast("double")
    return moment_census(pts, ["x", "y"]).select(
        F.col("n").cast("bigint").alias("n_points"),
        F.round(slope * 1000000, 0).cast("bigint").alias("slope_e6"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            0,
        )
        .cast("bigint")
        .alias("intercept_e6"),
    )


_PHRASES = (("table", "hash"), ("merge", "group"), ("slow", "key"))


@register(
    "q_text_phrase_search",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    ph(p1, p2) AS (VALUES {", ".join(f"('{a}', '{b}')" for a, b in _PHRASES)}),
    hits AS (
        SELECT ph.p1, ph.p2, d.doc_id,
               CAST(len(list_filter(range(1, len(d.toks)),
                    i -> d.toks[i] = ph.p1 AND d.toks[i + 1] = ph.p2))
                    AS BIGINT) AS n_hits
        FROM d CROSS JOIN ph
    )
    SELECT p1 || ' ' || p2 AS phrase,
           CAST(SUM(n_hits) AS BIGINT) AS n_occurrences,
           CAST(SUM(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs,
           CAST(MAX(n_hits) AS BIGINT) AS max_per_doc
    FROM hits
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("K6", "H5", "composite"),
)
def q_text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHRASE SEARCH (positional matching) — the retrieval operator
    q_text_inverted_index/q_text_bm25 cannot express: "these words
    ADJACENT, in this order". Classic engines intersect positional
    postings; at map-reduce scale the cheaper plan is to keep each
    document's token array INTACT and count adjacency matches inside
    a per-row higher-order function — `size(filter(sequence(1, n-1),
    i -> tok[i] = w1 AND tok[i+1] = w2))` — so phrase matching is
    MAP-ONLY: no positional explode, no (doc, pos) self-join, no
    shuffle of anything but the final 3-phrase aggregate.

    The phrase list rides an exploded literal array (a Generate, not
    a join); the token array is bound once per row and referenced
    twice inside the lambda, which also keeps CollapseProject from
    inlining the split() into the loop body (alias used more than
    once is never collapsed — the q_text_winnowing round-11 lesson
    about expressions inside HOF lambdas).

    Plan at 100 TB: one scan, one Generate (x|phrases|), one
    map-side-combined 3-row aggregate. The positional-join spelling
    would explode |tokens| rows per doc and shuffle them; this
    spelling shuffles 3 rows per partition."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    phrase_arr = ", ".join(
        f"named_struct('p1', '{a}', 'p2', '{b}')" for a, b in _PHRASES
    )
    hits = d.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.expr(f"explode(array({phrase_arr}))").alias("ph"),
    ).select(
        F.col("ph.p1").alias("p1"),
        F.col("ph.p2").alias("p2"),
        "doc_id",
        F.expr(
            "CAST(size(filter(sequence(1, size(toks) - 1),"
            " i -> element_at(toks, i) = ph.p1"
            " AND element_at(toks, i + 1) = ph.p2)) AS BIGINT)"
        ).alias("n_hits"),
    )
    return (
        hits.groupBy("p1", "p2")
        .agg(
            F.sum("n_hits").cast("bigint").alias("n_occurrences"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_docs"),
            F.max("n_hits").cast("bigint").alias("max_per_doc"),
        )
        .select(
            F.concat_ws(" ", "p1", "p2").alias("phrase"),
            "n_occurrences",
            "n_docs",
            "max_per_doc",
        )
    )
