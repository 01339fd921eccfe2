"""K4: text analysis for training-data pipelines (SURVEY.md §2-K).

Word count, per-language corpus stats, per-document quality scoring,
token counting (whitespace + BPE-ish regex), document fingerprinting,
and a language-ID heuristic. All hot paths are Catalyst expressions
(split/explode/regexp), not UDFs — a 100 TB corpus tokenizes JVM-side.

The fixture corpus shares one vocabulary across its `lang` labels
(verified this session: 31 shared words across all five langs), so the language-ID heuristic is
exercised for determinism and plumbing, not accuracy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..registry import register
from ..sources.tables import t

# A BPE-ish pre-tokenizer: words, numbers, or single punctuation marks.
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

STOPWORDS = ("a", "the", "and", "of", "to")


def word_ngrams(n: int, w: str = "w", distinct: bool = False):
    """Column expression: token n-grams of the BOUND array column
    ``w`` — THE one definition of the word-n-gram spelling (it was
    copy-pasted in four modules and the r7 O(len²) inlined-split bug
    had to be patched in two of them simultaneously — review finding).
    Rules it encodes: (1) the token array must be a bound COLUMN, not
    an inlined split() (Catalyst does not subexpression-eliminate
    across lambda boundaries, so inlining re-splits per position —
    the r7 6.3 s headline regression); (2) each gram is n O(1)
    element_at lookups, not slice() (the slice spelling copies an
    O(len) sub-array per gram — ml/dedup.py shingles() measured it
    ~2.4× slower); (3) short-doc guard — sequence DESCENDS when
    size < n, so the guard returns an empty array instead;
    (4) ``distinct=True`` dedups PER DOC inside the array cell,
    map-side — never explode-then-distinct, which shuffles every gram
    in the corpus (the decon-probe finding)."""
    parts = ", ".join(
        f"element_at({w}, i + {j})" if j else f"element_at({w}, i)"
        for j in range(n)
    )
    inner = F.expr(
        f"transform(sequence(1, size({w}) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))"
    )
    if distinct:
        inner = F.array_distinct(inner)
    return F.when(F.size(w) >= n, inner).otherwise(
        F.array().cast("array<string>")
    )


@register(
    "q_text_wordcount",
    oracle="""
    SELECT w AS word, COUNT(*) AS n
    FROM (SELECT UNNEST(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
    HAVING COUNT(*) >= 10
    """,
    tags=("K4",),
)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical wordcount: split → explode → count (freq ≥ 10)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 10)
    )


@register(
    "q_text_lang_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           ROUND(AVG(len(string_split(text, ' '))), 6) AS avg_tokens,
           COUNT(DISTINCT source) AS n_sources
    FROM documents
    GROUP BY lang
    """,
    tags=("K4",),
)
def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 6).alias("avg_tokens"),
        F.countDistinct("source").alias("n_sources"),
    )


@register(
    "q_text_quality",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq,
           ROUND(len(list_distinct(string_split(text, ' ')))
                 / len(string_split(text, ' ')), 6) AS uniq_ratio,
           ROUND(length(text) / len(string_split(text, ' ')), 6) AS avg_tok_len,
           len(list_filter(string_split(text, ' '),
                           w -> list_contains({list(STOPWORDS)}, w))) AS n_stop,
           ROUND(len(list_filter(string_split(text, ' '),
                                 w -> list_contains({list(STOPWORDS)}, w)))
                 / len(string_split(text, ' ')), 6) AS stop_ratio
    FROM documents
    """,
    tags=("K4",),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality signals: token count, type/token ratio,
    mean token length, stopword ratio — the standard LLM-corpus filter
    features, all in-SQL."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w)))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        F.round(F.size(F.array_distinct(toks)) / n_tokens, 6).alias("uniq_ratio"),
        F.round(F.length("text") / n_tokens, 6).alias("avg_tok_len"),
        n_stop.alias("n_stop"),
        F.round(n_stop / n_tokens, 6).alias("stop_ratio"),
    )


@register(
    "q_text_tokens",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_RE}')) AS bpe_tokens
    FROM documents
    """,
    tags=("K4",),
)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    pre-tokenizer (the standard token-budget estimator)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("bpe_tokens"),
    )


@register(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint
    FROM documents
    """,
    tags=("K4",),
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form fingerprint: md5 over the sorted distinct token
    set — invariant to token order/repetition, the cheap first pass of
    near-dedup pipelines."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(F.split("text", " "))))).alias(
            "fingerprint"
        ),
    )


@register(
    "q_text_ngrams",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         bg AS (
           SELECT UNNEST(list_transform(range(1, len(ws)),
                         i -> ws[i] || ' ' || ws[i + 1])) AS bigram
           FROM toks
         )
    SELECT bigram, COUNT(*) AS n
    FROM bg GROUP BY bigram HAVING COUNT(*) >= 20
    """,
    tags=("K4",),
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-bigram counts (freq ≥ 20) — n-gram extraction with O(1)
    element_at over a once-projected token array (see ml/dedup.py
    shingles() for why the slice-inside-transform idiom is ~2.4×
    slower), no Python."""
    d = t(spark, sf_dir, "documents")
    ws = d.select(F.split("text", " ").alias("__ws"))
    return (
        ws.select(F.explode(word_ngrams(2, "__ws")).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 20)
    )


@register(
    "q_text_tfidf",
    oracle="""
    WITH tf AS (
        SELECT doc_id, w AS word, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
        GROUP BY doc_id, w
    ),
    df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.word,
           ROUND(tf.tf * LN((n.n_docs + 1.0) / (df.df + 1.0)), 6) AS tfidf
    FROM tf JOIN df USING (word) CROSS JOIN n
    WHERE tf.doc_id < 50
    """,
    tags=("K4",),
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF (smoothed idf) per (doc, term), computed relationally:
    explode → two aggregations → broadcast joins. The 100-TB shape —
    the term-frequency table shuffles once on word; no vocabulary
    dictionary on the driver (vs MLlib HashingTF+IDF which is also
    available but hashes away the term identity)."""
    d = t(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # tiny scalar; at scale use a broadcast 1-row agg
    return (
        tf.filter(F.col("doc_id") < 50)
        .join(F.broadcast(df), "word")
        .select(
            "doc_id",
            "word",
            F.round(
                F.col("tf") * F.log((n_docs + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )


def _char_bigrams(col: str = "text"):
    """Exploded character bigrams, guarded for short texts —
    sequence(1, length-1) on a 0/1-char string would produce a
    DESCENDING index sequence and junk substrings."""
    seq = F.when(
        F.length(col) >= 2, F.sequence(F.lit(1), F.length(col) - 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.explode(F.transform(seq, lambda i: F.col(col).substr(i, F.lit(2))))


def lang_profiles(d: DataFrame, top: int = 20) -> DataFrame:
    """Per-language character-bigram frequency profile (top-N bigrams),
    computed distributed: one explode + two aggregations."""
    from pyspark.sql import Window

    bigrams = d.select("lang", _char_bigrams().alias("bg"))
    counts = bigrams.groupBy("lang", "bg").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("bg"))
    return counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= top)


@register(
    "q_text_langid",
    oracle="""
    WITH bg_doc AS (
        SELECT doc_id, substr(text, CAST(i AS INT), 2) AS bg
        FROM documents, UNNEST(range(1, length(text))) AS r(i)
        WHERE length(text) >= 2),
    bg_lang AS (
        SELECT lang, substr(text, CAST(i AS INT), 2) AS bg
        FROM documents, UNNEST(range(1, length(text))) AS r(i)
        WHERE length(text) >= 2),
    counts AS (SELECT lang, bg, COUNT(*) AS n FROM bg_lang GROUP BY lang, bg),
    prof AS (
        SELECT * FROM (
            SELECT lang AS p_lang, bg, n,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY n DESC, bg) AS rk
            FROM counts) WHERE rk <= 20),
    scored AS (
        SELECT b.doc_id, p.p_lang, SUM(p.n) AS score
        FROM bg_doc b JOIN prof p USING (bg)
        GROUP BY b.doc_id, p.p_lang),
    pred AS (
        SELECT doc_id, p_lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, p_lang) AS rk
        FROM scored)
    SELECT p.doc_id, p.p_lang AS pred_lang, d.lang
    FROM pred p JOIN documents d USING (doc_id)
    WHERE p.rk = 1
    """,
    tags=("K4",),
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: score each doc's char-bigrams against
    per-language profiles learned from the labeled corpus (broadcast
    dim), predict the argmax language. Everything is integer counts
    with deterministic (score DESC, lang) / (n DESC, bigram)
    tiebreaks, so the whole train-and-predict loop is reproduced
    exactly in SQL — upgraded round 4 from rows-only to an exact
    oracle (the fixture's langs share one vocabulary, so accuracy ≈
    chance; the operator's shape is what's exercised)."""
    d = t(spark, sf_dir, "documents")
    profiles = lang_profiles(d).select(
        F.col("lang").alias("p_lang"), "bg", F.col("n").alias("p_n")
    )
    doc_bigrams = d.select("doc_id", _char_bigrams().alias("bg"))
    scored = (
        doc_bigrams.join(F.broadcast(profiles), "bg")
        .groupBy("doc_id", "p_lang")
        .agg(F.sum("p_n").alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("p_lang"))
    pred = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    truth = d.select("doc_id", "lang")
    return pred.join(truth, "doc_id").select(
        "doc_id", F.col("p_lang").alias("pred_lang"), "lang"
    )


_CHUNK_WIN, _CHUNK_STRIDE = 64, 48  # 16-token overlap between chunks


@register(
    "q_text_chunking",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens,
               len(string_split(text, ' ')) AS n
        FROM documents),
    spans AS (
        SELECT doc_id, tokens,
               UNNEST(generate_series(0,
                   CASE WHEN n <= {_CHUNK_WIN} THEN 0
                        ELSE (n - {_CHUNK_WIN} + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}
                   END)) AS chunk_idx
        FROM toks)
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(tokens[chunk_idx * {_CHUNK_STRIDE} + 1 :
                       chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_WIN}]) AS BIGINT)
               AS chunk_tokens,
           md5(array_to_string(tokens[chunk_idx * {_CHUNK_STRIDE} + 1 :
                       chunk_idx * {_CHUNK_STRIDE} + {_CHUNK_WIN}], ' ')) AS chunk_md5
    FROM spans
    """,
    tags=("K4", "H5"),
)
def q_text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for retrieval/embedding pipelines: overlapping
    {win}-token windows at stride {stride} (the context-window prep
    step every RAG/training corpus needs). Pure Catalyst — split once,
    explode a per-doc chunk-index sequence, slice the token array per
    chunk; no Python, no shuffle (explode is narrow), chunk content
    pinned by md5. At 100 TB this is the map-only stage it should be."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.split("text", " ").alias("tokens"),
        F.size(F.split("text", " ")).alias("n"),
    )
    n_last = F.when(F.col("n") <= _CHUNK_WIN, F.lit(0)).otherwise(
        F.expr(f"(n - {_CHUNK_WIN} + {_CHUNK_STRIDE} - 1) DIV {_CHUNK_STRIDE}")
    )
    spans = toks.select(
        "doc_id",
        "tokens",
        F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_idx"),
    )
    chunk = F.slice(
        F.col("tokens"), F.col("chunk_idx") * _CHUNK_STRIDE + 1, _CHUNK_WIN
    )
    return spans.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@register(
    "q_text_cdc_chunks",
    oracle="""
    WITH split AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        WHERE text <> ''),
    toks AS (
        SELECT doc_id, UNNEST(ws) AS tok,
               UNNEST(range(1, len(ws) + 1)) AS pos
        FROM split),
    flagged AS (
        SELECT doc_id, tok, pos,
               CASE WHEN ('0x' || substring(md5(tok), 1, 8))::UBIGINT % 16 = 0
                    THEN 1 ELSE 0 END AS cut
        FROM toks),
    chunked AS (
        SELECT doc_id, tok, pos,
               CAST(COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS chunk_id
        FROM flagged)
    SELECT doc_id, chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_md5
    FROM chunked
    GROUP BY doc_id, chunk_id
    """,
    tags=("K4", "K2"),
)
def q_text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED chunking (rsync/LBFS/FastCDC family, at token
    granularity): a chunk ends after any token whose portable md5-32
    hash ≡ 0 (mod 16) — expected chunk ≈ 16 tokens. Because boundaries
    depend on CONTENT, not position, an edit only reshapes its own and
    the adjacent chunk while every other chunk keeps its md5 — the
    chunking that makes chunk-level dedup robust to insertions, which
    fixed-stride q_text_chunking is not.

    Scale: split + posexplode are narrow; the only shuffle is the
    per-doc window/groupBy on doc_id (bounded by doc length). The
    cut-flag hash is the same md5-prefix integer both engines compute,
    so chunk ids and digests are bit-portable."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents").filter(F.col("text") != "")
    toks = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    cut = (
        md5_int("tok", 8) % 16 == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = toks.select(
        "doc_id",
        "tok",
        "pos",
        F.coalesce(F.sum(cut).over(w), F.lit(0)).cast("bigint").alias("chunk_id"),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda x: x["tok"]
    )
    return chunked.groupBy("doc_id", "chunk_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", ordered)).alias("chunk_md5"),
    )


q_text_chunking.__doc__ = q_text_chunking.__doc__.format(
    win=_CHUNK_WIN, stride=_CHUNK_STRIDE
)

_PACK_BUDGET = 2048  # tokens per packed training sequence


@register(
    "q_text_packing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS tok
        FROM documents),
    placed AS (
        SELECT lang, tok,
               CAST(SUM(tok) OVER (PARTITION BY lang ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tok
                    AS BIGINT) AS cum_before
        FROM toks)
    SELECT lang,
           CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS bin_tokens,
           CAST((1000 * SUM(tok)) // {_PACK_BUDGET} AS BIGINT) AS fill_permille
    FROM placed
    GROUP BY lang, bin
    """,
    tags=("K4", "E3", "composite"),
)
def q_text_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the batch-prep step that turns a ragged
    corpus into fixed token-budget training sequences: docs are laid
    end-to-end per language in deterministic doc_id order, and each
    doc's bin is its running-offset DIV budget (greedy sequential
    packing; docs may straddle a boundary, the standard
    concat-then-split regime). One window pass + one groupBy, all
    integers ⇒ exact. Partitioned by lang so the running sum
    parallelizes per group — the per-shard pattern real pipelines use
    (a single global pack order would serialize into one task)."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("tok")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.select(
        "lang",
        "tok",
        (F.sum("tok").over(w) - F.col("tok")).cast("bigint").alias("cum_before"),
    )
    return (
        placed.groupBy(
            "lang", F.expr(f"cum_before DIV {_PACK_BUDGET}").cast("bigint").alias("bin")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("bin_tokens"),
            F.expr(f"(1000 * SUM(tok)) DIV {_PACK_BUDGET}")
            .cast("bigint")
            .alias("fill_permille"),
        )
    )


@register(
    "q_text_redact",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or call ' || CAST(doc_id * 7919 AS VARCHAR)
                   AS raw
        FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '[a-z0-9.]+@[a-z]+\\.[a-z]+')) AS BIGINT)
               AS n_emails,
           md5(regexp_replace(regexp_replace(raw, '[a-z0-9.]+@[a-z]+\\.[a-z]+',
                                             '<EMAIL>', 'g'),
                              '[0-9]+', '<NUM>', 'g')) AS redacted_md5
    FROM aug
    """,
    tags=("K4", "H2"),
)
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass every training corpus runs
    before the tokenizer: emails then digit runs replaced with typed
    placeholders via chained regexp_replace (JVM-side, streaming-safe,
    no Python). The fixture text is PII-free, so deterministic
    email/phone tokens are synthesized per doc identically on both
    engines, then scrubbed; the md5 of the redacted text pins that
    every occurrence was caught. Patterns stay in the Java∩RE2 common
    subset (character classes + quantifiers, no lookaround) so both
    engines redact identically."""
    d = t(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call "),
            (F.col("doc_id") * 7919).cast("string"),
        ).alias("raw"),
    )
    email = r"[a-z0-9.]+@[a-z]+\.[a-z]+"
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("raw", F.lit(email), 0))
        .cast("bigint")
        .alias("n_emails"),
        F.md5(
            F.regexp_replace(
                F.regexp_replace("raw", email, "<EMAIL>"), r"[0-9]+", "<NUM>"
            )
        ).alias("redacted_md5"),
    )


_FHASH_DIM = 32


@register(
    "q_text_feature_hash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS w FROM documents)
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5('d' || w), 1, 8) AS BIGINT)
                % {_FHASH_DIM} AS BIGINT) AS dim,
           CAST(SUM(CASE WHEN CAST('0x' || substr(md5('s' || w), 1, 8) AS BIGINT)
                              % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT) AS feat,
           COUNT(*) AS n_tokens
    FROM toks
    GROUP BY 1, 2
    """,
    tags=("K4", "H9"),
)
def q_text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick — fixed-dimension featurization with no
    vocabulary build: token → dimension via one hash, ± sign via a
    second (the unbiased signed variant of HashingTF), summed per
    (doc, dim). No driver-side dictionary, no second pass, output width
    fixed at {dim} regardless of corpus size — THE featurizer shape
    that works at 100 TB. Hash family is md5-hex→int (portable), so
    unlike MLlib's murmur-based HashingTF this one is EXACTLY
    oracle-checkable cross-engine."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))

    def h(prefix: str):
        return md5_int(F.concat(F.lit(prefix), F.col("w")), 8)

    return (
        toks.select(
            "doc_id",
            (h("d") % _FHASH_DIM).alias("dim"),
            F.when(h("s") % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
        )
        .groupBy("doc_id", "dim")
        .agg(
            F.sum("sgn").cast("bigint").alias("feat"),
            F.count("*").alias("n_tokens"),
        )
    )


q_text_feature_hash.__doc__ = q_text_feature_hash.__doc__.format(dim=_FHASH_DIM)


@register(
    "q_text_repetition",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id, 2 AS k,
               UNNEST(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i + 1])) AS gram
        FROM toks
        UNION ALL
        SELECT doc_id, 3 AS k,
               UNNEST(list_transform(range(1, len(w) - 1),
                                     i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS gram
        FROM toks
    ), c AS (
        SELECT doc_id, k, gram, COUNT(*) AS n FROM g GROUP BY doc_id, k, gram
    )
    SELECT doc_id,
           CAST(SUM(n) FILTER (WHERE k = 2) AS BIGINT) AS n_bigrams,
           CAST(MAX(n) FILTER (WHERE k = 2) AS BIGINT) AS top_bigram_n,
           ROUND(MAX(n) FILTER (WHERE k = 2) * 1.0
                 / SUM(n) FILTER (WHERE k = 2), 6) AS top_bigram_frac,
           CAST(SUM(n) FILTER (WHERE k = 3) AS BIGINT) AS n_trigrams,
           CAST(COALESCE(SUM(n) FILTER (WHERE k = 3 AND n > 1), 0) AS BIGINT)
               AS dup_trigram_n,
           ROUND(COALESCE(SUM(n) FILTER (WHERE k = 3 AND n > 1), 0) * 1.0
                 / SUM(n) FILTER (WHERE k = 3), 6) AS dup_trigram_frac
    FROM c GROUP BY doc_id
    """,
    tags=("K4",),
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: the fraction of
    bigram occurrences taken by the single most frequent bigram, and the
    fraction of trigram occurrences whose trigram appears more than once
    (Rae et al. 2021's "duplicate n-gram fraction" family — the standard
    repetitive-boilerplate filter for LLM corpora).

    Scale: positional n-grams are generated JVM-side with
    transform(sequence(...)) — no UDF — then ONE explode feeds a
    two-phase (doc_id, k, gram) count whose shuffle rows are fixed-width
    (id, tag, short gram); the per-doc reduce is a second map-side
    partial agg on doc_id alone. Both signals ride the same exploded
    frame, so the corpus is scanned once."""
    # bind the token array as a column FIRST: inlining F.split into the
    # per-position element_at calls re-split the text ~n·len times per
    # row (O(len²) expression work — the q_text_decontaminate 6.3 s
    # headline regression, r7); slice() on the bound array is O(len)
    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )

    exploded = d.select(
        "doc_id",
        F.explode(
            F.map_from_arrays(F.array(F.lit(2), F.lit(3)), F.array(word_ngrams(2), word_ngrams(3)))
        ).alias("k", "gs"),
    ).select("doc_id", "k", F.explode("gs").alias("gram"))
    counts = exploded.groupBy("doc_id", "k", "gram").agg(F.count("*").alias("n"))
    two = F.col("k") == 2
    three = F.col("k") == 3
    return counts.groupBy("doc_id").agg(
        F.sum(F.when(two, F.col("n"))).cast("bigint").alias("n_bigrams"),
        F.max(F.when(two, F.col("n"))).cast("bigint").alias("top_bigram_n"),
        F.round(
            F.max(F.when(two, F.col("n"))) / F.sum(F.when(two, F.col("n"))), 6
        ).alias("top_bigram_frac"),
        F.sum(F.when(three, F.col("n"))).cast("bigint").alias("n_trigrams"),
        F.coalesce(
            F.sum(F.when(three & (F.col("n") > 1), F.col("n"))), F.lit(0)
        ).cast("bigint").alias("dup_trigram_n"),
        F.round(
            F.coalesce(F.sum(F.when(three & (F.col("n") > 1), F.col("n"))), F.lit(0))
            / F.sum(F.when(three, F.col("n"))),
            6,
        ).alias("dup_trigram_frac"),
    )


@register(
    "q_text_decontaminate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(w) - 3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                        || w[i+3] || ' ' || w[i+4])) AS gram
        FROM toks
    ), bg AS (
        SELECT DISTINCT gram FROM g WHERE doc_id % 43 = 0
    ), cg AS (
        SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 43 <> 0
    ), hits AS (
        SELECT doc_id, COUNT(*) AS n FROM cg JOIN bg USING (gram) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shared_5grams,
           COALESCE(h.n, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 43 <> 0
    """,
    tags=("K4", "K2"),
)
def q_text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    contiguous word 5-gram with a held-out benchmark set (here the
    deterministic doc_id % 43 == 0 slice standing in for an eval suite)
    — the pre-training hygiene step every LLM corpus runs (GPT-3 /
    PaLM-style n-gram collision decontamination).

    Scale: the benchmark side is tiny by construction (eval suites are
    MBs; the corpus is TBs), so its DISTINCT 5-gram set is BROADCAST —
    the 100 TB side is never shuffled for the probe; only matched
    (doc_id, gram) pairs reach the per-doc count. Per-doc gram dedup
    happens MAP-SIDE (array_distinct before the explode — a doc's
    grams all live in one array cell): the earlier explode-then-
    distinct spelling shuffled every corpus gram, which
    the decontamination probe (since deleted, see git history)
    measured dominating BOTH join spellings
    (r7). Swap the broadcast for the Bloom build in plans/scale.py
    when the gram set outgrows the broadcast threshold."""
    d = t(spark, sf_dir, "documents")
    # materialize the token array as a COLUMN before the lambda: the
    # earlier spelling inlined F.split into five element_at calls per
    # gram position, so every row re-split its text ~5·len times —
    # O(len²) expression work that made this the slowest headline line
    # (6.3 s at sf0.1; 1.6 s after this fix). slice() on the bound
    # array replaces the per-j element_at fan-out.
    toks_df = d.select("doc_id", F.split("text", " ").alias("w"))
    grams = word_ngrams(5, distinct=True)
    is_bench = F.col("doc_id") % 43 == 0
    exploded = toks_df.select("doc_id", F.explode(grams).alias("gram"))
    bench_grams = exploded.filter(is_bench).select("gram").distinct()
    # no corpus-side distinct: per-doc dedup already happened in the
    # array; cross-doc duplicates are exactly what the per-doc count
    # keys on, so a (doc_id, gram) shuffle here would be pure waste
    corpus_grams = exploded.filter(~is_bench)
    hits = (
        corpus_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        d.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_shared_5grams"),
            (F.coalesce("n", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "q_text_perplexity",
    oracle="""
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS word
        FROM documents
    ),
    lm AS (
        SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word
    ),
    stats AS (SELECT SUM(cnt) AS total FROM lm),
    surprisal AS (
        SELECT word,
               CAST(ROUND(LN(CAST(stats.total AS DOUBLE) / cnt) * 1000000,
                          0) AS BIGINT) AS surprise_e6
        FROM lm CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(surprise_e6) // COUNT(*) AS BIGINT) AS xent_e6
    FROM tok JOIN surprisal USING (word)
    GROUP BY doc_id
    ORDER BY xent_e6 DESC, doc_id LIMIT 20
    """,
    tags=("K4",),
)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy scoring — the perplexity-filter stage
    of every LLM pretraining pipeline (CCNet/Gopher-style: score each
    document by a language model trained on the corpus itself, flag
    the high-surprisal tail as junk). Per-token self-information
    −ln p(w) = ln(T / cnt(w)) is fixed-pointed to e6 at the VOCAB
    level (one double op per distinct word, the same determinism
    treatment as BM25's idf in ml/corpus.py), so each document's
    cross-entropy sum is an exact integer in any partial-aggregation
    order, and the final per-token mean is an integer DIV.
    Distinct from q_text_rarity: rarity weights by DOCUMENT frequency
    (df), this by collection TERM frequency — the two tails disagree
    exactly on tokens concentrated in few but long documents.

    Plan: one explode feeds both the LM build (groupBy word) and the
    scoring join; the LM is broadcast back (vocab ≪ corpus — the BM25
    contract); total token count is one bounded 1-row collect. Top-20
    by (xent, doc_id) plans as TakeOrderedAndProject — no global
    sort."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    lm = tok.groupBy("word").agg(F.count("*").alias("cnt"))
    total = lm.agg(F.sum("cnt")).collect()[0][0]  # bounded scalar
    surprisal = lm.select(
        "word",
        F.round(F.log(F.lit(float(total)) / F.col("cnt")) * 1_000_000, 0)
        .cast("bigint")
        .alias("surprise_e6"),
    )
    return (
        tok.join(F.broadcast(surprisal), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.expr("CAST(SUM(surprise_e6) DIV COUNT(*) AS BIGINT)").alias(
                "xent_e6"
            ),
        )
        .orderBy(F.desc("xent_e6"), "doc_id")
        .limit(20)
    )


_KWIC_TERM = "data"
_KWIC_CTX = 3


@register(
    "q_text_kwic",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    pos AS (
        SELECT doc_id, arr,
               unnest(arr) AS tok,
               generate_subscripts(arr, 1) AS p
        FROM toks
    ),
    hits AS (
        SELECT doc_id, p,
               COALESCE(array_to_string(
                   list_slice(arr, GREATEST(1, p - {_KWIC_CTX}), p - 1),
                   ' '), '') AS left_ctx,
               tok AS keyword,
               COALESCE(array_to_string(
                   list_slice(arr, p + 1, p + {_KWIC_CTX}), ' '), '')
                 AS right_ctx
        FROM pos WHERE tok = '{_KWIC_TERM}'
    )
    SELECT doc_id, CAST(p AS BIGINT) AS pos, left_ctx, keyword, right_ctx
    FROM hits ORDER BY doc_id, pos
    """,
    tags=("K4", "text"),
)
def q_text_kwic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC CONCORDANCE (KeyWord In Context) — every occurrence of a
    term with its +/-{_KWIC_CTX}-token window, the corpus-linguistics
    primitive behind search snippets, sense disambiguation review and
    annotation UIs; the positional complement to
    q_text_inverted_index (which records WHERE terms occur, not what
    SURROUNDS them) and q_text_phrase_search (which counts adjacency,
    not context).

    Portability details that carry the oracle: token positions come
    from posexplode (0-based) + 1 vs DuckDB's 1-based
    generate_subscripts — normalized to 1-based on both sides;
    context slices use Spark's slice(arr, start, LENGTH) vs DuckDB's
    INCLUSIVE list_slice(arr, a, b) — the left window spells length
    as p - greatest(1, p-{_KWIC_CTX}) so both engines clamp the
    document head identically, and both clamp the tail for free. An empty window (keyword at the document edge) is '' in both
    engines — Spark's array_join of an empty array is '' while
    DuckDB's array_to_string of an empty slice is NULL, COALESCEd
    in the oracle (an engine-boundary case the driver diff caught).
    The
    tokens array is referenced by BOTH slices and the position
    filter (>= 2 references), so CollapseProject leaves the split()
    materialized — the standing HOF-inlining trap dodged by
    construction.

    Plan at 100 TB: map-only — split, posexplode, filter, two
    slices; no shuffle at all; the filter prunes to matching
    positions before any context string is built."""
    toks = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("arr")
    )
    pos = toks.select(
        "doc_id",
        "arr",
        F.posexplode("arr").alias("p0", "tok"),
    ).select(
        "doc_id", "arr", "tok", (F.col("p0") + 1).alias("p")
    )
    hits = pos.filter(F.col("tok") == _KWIC_TERM).select(
        "doc_id",
        F.col("p").cast("bigint").alias("pos"),
        F.array_join(
            F.expr(
                f"slice(arr, GREATEST(1, p - {_KWIC_CTX}),"
                f" p - GREATEST(1, p - {_KWIC_CTX}))"
            ),
            " ",
        ).alias("left_ctx"),
        F.col("tok").alias("keyword"),
        F.array_join(
            F.expr(f"slice(arr, p + 1, {_KWIC_CTX})"), " "
        ).alias("right_ctx"),
    )
    return hits
