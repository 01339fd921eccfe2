"""H1–H10: scalar function surface (SURVEY.md §2-H).

Reference analog: Python str/re/numpy/dict operations in the notebooks
[PK] — here every one is a Catalyst expression that stays inside
WholeStageCodegen (no Python boundary crossing at all). Regex patterns
are kept to the RE2-compatible subset so the Java (Spark) and RE2
(DuckDB) engines agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_fn_string",
    oracle="""
    SELECT c_custkey,
           LOWER(c_name) AS lname,
           UPPER(c_mktsegment) AS useg,
           LENGTH(c_name) AS name_len,
           SUBSTRING(c_name, 1, 8) AS prefix,
           CONCAT(c_name, '#', c_mktsegment) AS tagged,
           TRIM(CONCAT(' ', c_name, ' ')) AS trimmed,
           REPLACE(c_name, 'Customer', 'Cust') AS replaced
    FROM customer
    """,
    tags=("H1",),
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String basics — the tile-path parsing toolkit of the reference."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lname"),
        F.upper("c_mktsegment").alias("useg"),
        F.length("c_name").alias("name_len"),
        F.substring("c_name", 1, 8).alias("prefix"),
        F.concat(F.col("c_name"), F.lit("#"), F.col("c_mktsegment")).alias("tagged"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("replaced"),
    )


@register(
    "q_fn_regex",
    oracle="""
    SELECT c_custkey, c_name,
           regexp_extract(c_name, '([0-9]+)', 1) AS name_num,
           CASE WHEN regexp_matches(c_name, '^Customer#0*1[0-9]') THEN 1 ELSE 0 END AS starts_1x
    FROM customer
    WHERE regexp_matches(c_name, '[0-9]$')
    """,
    tags=("H2",),
)
def q_fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extract/match — tile x,y-from-filename parsing [PK]."""
    c = t(spark, sf_dir, "customer")
    return c.filter(F.col("c_name").rlike("[0-9]$")).select(
        "c_custkey",
        "c_name",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_num"),
        F.when(F.col("c_name").rlike("^Customer#0*1[0-9]"), 1).otherwise(0).alias("starts_1x"),
    )


@register(
    "q_fn_string_ext",
    oracle="""
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
           rpad(c_mktsegment, 12, '.') AS padded_seg,
           reverse(c_name) AS rev_name,
           repeat('ab', 3) AS rep,
           left(c_name, 4) AS l4,
           right(c_name, 4) AS r4,
           strpos(c_name, '#') AS hash_pos,
           translate(c_mktsegment, 'AEIOU', 'aeiou') AS translated,
           levenshtein(c_mktsegment, 'MACHINERY') AS lev_to_machinery
    FROM customer
    """,
    tags=("H1",),
)
def q_fn_string_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string kit: padding, reverse/repeat, left/right,
    position, translate, edit distance (levenshtein — the scalar
    building block of fuzzy matching)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded_key"),
        F.rpad("c_mktsegment", 12, ".").alias("padded_seg"),
        F.reverse("c_name").alias("rev_name"),
        F.repeat(F.lit("ab"), 3).alias("rep"),
        F.substring("c_name", 1, 4).alias("l4"),
        F.col("c_name").substr(F.length("c_name") - 3, F.lit(4)).alias("r4"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("translated"),
        F.levenshtein("c_mktsegment", F.lit("MACHINERY")).alias("lev_to_machinery"),
    )


@register(
    "q_fn_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS odate,
           EXTRACT(year FROM o_orderdate) AS oyear,
           EXTRACT(month FROM o_orderdate) AS omonth,
           EXTRACT(day FROM o_orderdate) AS oday,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_95
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) BETWEEN 1996 AND 1998
    """,
    tags=("H3",),
)
def q_fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time kit over o_orderdate (ms-precision — safe both engines)."""
    o = t(spark, sf_dir, "orders")
    return o.filter(F.year("o_orderdate").between(1996, 1998)).select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("odate"),
        F.year("o_orderdate").alias("oyear"),
        F.month("o_orderdate").alias("omonth"),
        F.dayofmonth("o_orderdate").alias("oday"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_95"
        ),
    )


@register(
    "q_fn_math",
    oracle="""
    SELECT p_partkey,
           ROUND(LN(p_retailprice), 6) AS ln_price,
           ROUND(EXP(p_size / 100.0), 6) AS exp_size,
           ROUND(POW(p_size, 2), 6) AS size_sq,
           ROUND(SQRT(p_retailprice), 6) AS sqrt_price,
           ABS(p_size - 25) AS size_dev,
           CAST(CEIL(p_retailprice / 100) AS BIGINT) AS price_bucket,
           CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_bucket_lo,
           GREATEST(p_size, 10) AS size_min10,
           LEAST(p_size, 40) AS size_max40,
           p_size % 7 AS size_mod7
    FROM part
    """,
    tags=("H4", "H10"),
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math kit (log/exp/pow/sqrt/abs/ceil/floor/greatest/least/mod)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round(F.log("p_retailprice"), 6).alias("ln_price"),
        F.round(F.exp(F.col("p_size") / 100.0), 6).alias("exp_size"),
        F.round(F.pow("p_size", F.lit(2)), 6).alias("size_sq"),
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.ceil(F.col("p_retailprice") / 100).alias("price_bucket"),
        F.floor(F.col("p_retailprice") / 100).alias("price_bucket_lo"),
        F.greatest(F.col("p_size"), F.lit(10)).alias("size_min10"),
        F.least(F.col("p_size"), F.lit(40)).alias("size_max40"),
        (F.col("p_size") % 7).alias("size_mod7"),
    )


@register(
    "q_fn_array_argmax",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           list_indexof(embedding, list_max(embedding)) AS argmax_pos,
           ROUND(list_max(embedding), 6) AS max_val,
           ROUND(embedding[1], 6) AS first_val
    FROM embeddings
    """,
    tags=("H5",),
)
def q_fn_array_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops + argmax — the reference's ``numpy.argmax`` over class
    probabilities [PK], as pure SQL (1-based position, both engines)."""
    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_position(F.col("embedding"), F.array_max("embedding")).alias("argmax_pos"),
        F.round(F.array_max("embedding"), 6).alias("max_val"),
        F.round(F.element_at("embedding", 1), 6).alias("first_val"),
    )


@register(
    "q_fn_dot_product",
    oracle="""
    SELECT vec_id,
           ROUND(SUM(e * e), 6) AS norm_sq,
           ROUND(SUM(e), 6) AS comp_sum
    FROM (SELECT vec_id, UNNEST(CAST(embedding AS DOUBLE[])) AS e FROM embeddings)
    GROUP BY vec_id
    """,
    tags=("H6",),
)
def q_fn_dot_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: dot product / norm² computed
    IN-SQL via aggregate+zip_with — no Python boundary. This is the
    kernel the kNN operator (K3) builds on. Accumulates in double,
    left-to-right in both engines (DuckDB oracle unnests in list order)."""
    from .vectors import dot, fsum

    e = t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(dot("embedding", "embedding"), 6).alias("norm_sq"),
        F.round(fsum("embedding"), 6).alias("comp_sum"),
    )


@register(
    "q_fn_array_set",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               string_split(text, ' ')[1:10] AS a,
               string_split(text, ' ')[6:15] AS b
        FROM documents
    )
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(a)), ',') AS a_distinct,
           array_to_string(list_sort(list_distinct(list_cat(a, b))), ',') AS ab_union,
           array_to_string(list_sort(list_intersect(a, b)), ',') AS ab_inter,
           -- COALESCE: an all-filtered list surfaces as NULL here but as
           -- '' from Spark's array_join(empty)
           COALESCE(array_to_string(list_sort(list_distinct(
               list_filter(a, x -> NOT list_contains(b, x)))), ','), '') AS ab_diff,
           len(flatten([a, b])) AS flat_len
    FROM toks
    """,
    tags=("H5",),
)
def q_fn_array_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (distinct/union/intersect/except/flatten) over
    token slices — compared as sorted joined strings since array
    element ORDER differs legitimately between engines."""
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    a = F.slice(toks, 1, 10)
    b = F.slice(toks, 6, 10)

    def srt(arr):
        return F.array_join(F.sort_array(arr), ",")

    return d.select(
        "doc_id",
        srt(F.array_distinct(a)).alias("a_distinct"),
        srt(F.array_union(a, b)).alias("ab_union"),
        srt(F.array_intersect(a, b)).alias("ab_inter"),
        srt(F.array_except(a, b)).alias("ab_diff"),
        F.size(F.flatten(F.array(a, b))).alias("flat_len"),
    )


@register(
    "q_fn_map",
    oracle="""
    SELECT n_nationkey, n_name,
           CASE n_regionkey WHEN 0 THEN 'AFRICA' WHEN 1 THEN 'AMERICA'
                WHEN 2 THEN 'ASIA' WHEN 3 THEN 'EUROPE' WHEN 4 THEN 'MIDDLE EAST'
                ELSE 'UNKNOWN' END AS region_name
    FROM nation
    """,
    tags=("H7",),
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-literal lookup — the label-taxonomy dict of the reference [PK]
    as a broadcastable create_map expression (oracle: CASE ladder)."""
    lookup = F.create_map(
        *[
            x
            for pair in [
                (F.lit(0), F.lit("AFRICA")),
                (F.lit(1), F.lit("AMERICA")),
                (F.lit(2), F.lit("ASIA")),
                (F.lit(3), F.lit("EUROPE")),
                (F.lit(4), F.lit("MIDDLE EAST")),
            ]
            for x in pair
        ]
    )
    n = t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        "n_name",
        F.coalesce(lookup[F.col("n_regionkey")], F.lit("UNKNOWN")).alias("region_name"),
    )


@register(
    "q_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
    tags=("H8", "A4"),
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string parsing (events.props) with from_json + schema —
    semi-structured ingest without a Python UDF."""
    ev = t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k BIGINT").getField("k").alias("k")
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("k").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


@register(
    "q_fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text) AS text_md5,
           sha256(text) AS text_sha256
    FROM documents
    """,
    tags=("H9",),
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic content hashes — deterministic doc ids / dedup keys.
    (xxhash64/crc32 exist Spark-side but have no DuckDB twin, so the
    oracle covers md5/sha256; xxhash64 is exercised by K1 dedup.)"""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
    )


@register(
    "q_fn_bitwise",
    oracle="""
    SELECT p_partkey,
           p_partkey & 255 AS k_and,
           p_partkey | 4096 AS k_or,
           xor(p_partkey, 255) AS k_xor,
           p_partkey << 2 AS k_shl,
           p_partkey >> 1 AS k_shr,
           CAST(bit_count(p_partkey) AS INT) AS k_bits
    FROM part
    """,
    tags=("H4",),
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise operators — the building blocks of signature/bucket
    tricks (SimHash bit votes, banded LSH signatures, bloom hashing)
    exposed as first-class scalar functions."""
    p = t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    return p.select(
        "p_partkey",
        k.bitwiseAND(F.lit(255)).alias("k_and"),
        k.bitwiseOR(F.lit(4096)).alias("k_or"),
        k.bitwiseXOR(F.lit(255)).alias("k_xor"),
        F.shiftleft(k, 2).alias("k_shl"),
        F.shiftright(k, 1).alias("k_shr"),
        F.bit_count(k).alias("k_bits"),
    )


@register(
    "q_fn_editdist",
    oracle="""
    SELECT p_partkey,
           levenshtein(p_brand, p_type) AS lev_brand_type,
           levenshtein(p_name, p_brand) AS lev_name_brand
    FROM part
    """,
    tags=("H1",),
)
def q_fn_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance (Levenshtein) — fuzzy string matching for entity
    resolution / near-dup key canonicalization; JVM-side, no UDF."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_brand", "p_type").alias("lev_brand_type"),
        F.levenshtein("p_name", "p_brand").alias("lev_name_brand"),
    )


@register(
    "q_fn_array_hof",
    oracle="""
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_pos,
           len(list_filter(embedding, x -> x > 2)) > 0 AS any_big,
           len(list_filter(embedding, x -> abs(x) >= 10)) = 0 AS all_small,
           ROUND(list_filter(embedding, x -> x > 0)[1], 6) AS first_pos
    FROM embeddings
    """,
    tags=("H5", "H6"),
)
def q_fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array predicates — filter/exists/forall lambdas,
    all JVM-side (the array-column toolkit for embedding hygiene
    checks: count signs, detect outliers, validate ranges)."""
    e = t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.exists(emb, lambda x: x > 2).alias("any_big"),
        F.forall(emb, lambda x: F.abs(x) < 10).alias("all_small"),
        F.round(F.element_at(F.filter(emb, lambda x: x > 0), 1), 6).alias("first_pos"),
    )


@register(
    "q_fn_binary",
    oracle="""
    SELECT doc_id,
           base64(encode(substr(text, 1, 24))) AS b64,
           hex(encode(substr(text, 1, 8))) AS hx,
           sha256(text) AS sha
    FROM documents WHERE doc_id < 100
    """,
    tags=("H9", "H1"),
)
def q_fn_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary encode/digest surface: base64, hex and SHA-256 over utf8
    payload prefixes — content-addressing and wire-format primitives
    (both engines emit RFC-4648 base64 with padding and uppercase hex,
    verified). Pure per-row JVM expressions, no shuffle."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    as_bin = lambda c: c.cast("binary")  # noqa: E731
    return d.select(
        "doc_id",
        F.base64(as_bin(F.substring("text", 1, 24))).alias("b64"),
        F.hex(as_bin(F.substring("text", 1, 8))).alias("hx"),
        F.sha2(as_bin(F.col("text")), 256).alias("sha"),
    )


@register(
    "q_variant_extract",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority AS priority,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
           CAST(o_orderdate AS DATE) AS d
    FROM orders
    """,
    tags=("H8", "A4"),
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT round-trip: build a nested JSON document per
    order (to_json over nested structs), parse_json it into an open
    VARIANT column, then pull typed leaves back out with
    try_variant_get path expressions — the schema-on-read flow for
    semi-structured ingest where the document shape isn't known at
    write time (vs q_json_extract's fixed from_json schema). The
    oracle is the round-trip identity: extraction must return the
    source columns bit-for-bit (money as integer cents, date via
    ISO string)."""
    orders = t(spark, sf_dir, "orders")
    doc = orders.select(
        "o_orderkey",
        F.parse_json(
            F.to_json(
                F.struct(
                    F.col("o_orderpriority").alias("priority"),
                    F.struct(
                        cents("o_totalprice").alias("cents"),
                        F.col("o_orderdate").cast("date").cast("string").alias("d"),
                    ).alias("meta"),
                )
            )
        ).alias("v"),
    )
    return doc.select(
        "o_orderkey",
        F.try_variant_get("v", "$.priority", "string").alias("priority"),
        F.try_variant_get("v", "$.meta.cents", "bigint").alias("cents"),
        F.try_variant_get("v", "$.meta.d", "date").alias("d"),
    )


@register(
    "q_fn_try_safe",
    oracle="""
    SELECT o_orderkey,
           o_totalprice / NULLIF(CAST(o_orderkey % 10 AS BIGINT), 0) AS safe_div,
           TRY_CAST(o_orderstatus AS BIGINT) AS bad_cast,
           TRY_CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS prio_num
    FROM orders
    """,
    tags=("H4", "H10"),
)
def q_fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expression kit (ANSI mode without the blast radius):
    try_divide turns ÷0 into NULL instead of failing the 1000-executor
    job at hour three, try_cast turns malformed strings into NULL
    instead of throwing — row-level fault tolerance as plain Catalyst
    expressions. Oracle maps try_divide to x / NULLIF(y, 0) and
    try_cast to DuckDB TRY_CAST."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.try_divide("o_totalprice", (F.col("o_orderkey") % 10).cast("bigint")).alias(
            "safe_div"
        ),
        F.expr("TRY_CAST(o_orderstatus AS BIGINT)").alias("bad_cast"),
        F.expr("TRY_CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT)").alias("prio_num"),
    )


@register(
    "q_fn_interval",
    oracle="""
    SELECT o_orderkey,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE)
               AS plus3m,
           CAST(isodow(o_orderdate) - 1 AS BIGINT) AS wd
    FROM orders
    WHERE o_orderkey % 37 = 0
    """,
    tags=("H3",),
)
def q_fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-interval arithmetic coverage (the H3 functions round 1
    left out): LAST_DAY, month-level DATE_TRUNC, ADD_MONTHS (which
    clamps Jan 31 + 1 → Feb 28 — semantics verified identical to
    DuckDB's date + INTERVAL addition), and WEEKDAY in the portable
    0=Monday convention (Spark weekday() ≡ DuckDB isodow − 1; the
    1=Sunday dayofweek() spellings DIFFER between engines and are
    deliberately avoided — same class of trap as ISO weeks, cf. the
    epoch-day DIV 7 rule in q_fn_datetime). Pure map-side projection;
    the modulo filter only bounds the compared rows."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 37 == 0)
        .select(
            "o_orderkey",
            F.last_day(F.col("o_orderdate").cast("date")).alias("month_end"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
            F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus3m"),
            F.weekday(F.col("o_orderdate")).cast("bigint").alias("wd"),
        )
    )


@register(
    "q_fn_format",
    oracle="""
    SELECT o_orderkey,
           printf('%s-%06d', o_orderpriority, o_orderkey) AS order_tag,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           printf('%d cents', CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS price_label
    FROM orders
    WHERE o_orderkey % 53 = 0
    """,
    tags=("H1", "H3"),
)
def q_fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting coverage (printf-style FORMAT_STRING +
    DATE_FORMAT): zero-padded composite business keys, month
    roll-up labels, unit-suffixed amounts — the report-surface
    functions. Engine-portable subset only: %s/%06d/%d printf
    conversions behave identically (Spark format_string ≡ DuckDB
    printf — both java.util.Formatter/C semantics for these), and the
    date pattern is written natively per engine (Spark 'yyyy-MM' ≡
    DuckDB strftime '%Y-%m') since pattern SYNTAX differs while the
    rendered text is identical. Floating %f is deliberately excluded
    (rounding-render rules differ) — amounts go through exact cents.
    Pure map-side projection."""
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 53 == 0)
        .select(
            "o_orderkey",
            F.format_string(
                "%s-%06d", F.col("o_orderpriority"), F.col("o_orderkey")
            ).alias("order_tag"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.format_string(
                "%d cents",
                cents("o_totalprice"),
            ).alias("price_label"),
        )
    )


@register(
    "q_fn_url",
    oracle="""
    WITH u AS (
        SELECT c_custkey,
               lower(c_mktsegment) || '.shop.example' AS host,
               '/u/' || CAST(c_custkey AS VARCHAR) AS path,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE c_nationkey END AS n
        FROM customer
    )
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT path) AS BIGINT) AS n_paths,
           CAST(SUM(n) AS BIGINT) AS sum_n,
           CAST(SUM(CASE WHEN n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing_param
    FROM u GROUP BY host ORDER BY host
    """,
    tags=("H1", "H2"),
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing (`parse_url` — the log-analytics workhorse Spark
    ships natively): construct one URL per customer (host from the
    market segment, some with an explicit :8443 port, every 5th
    missing its `n` query param), then extract HOST (port-stripped),
    PATH, and the `n` QUERY parameter, and aggregate a per-host
    census including how many URLs lacked the parameter (parse_url
    returns NULL, not an error). The oracle reconstructs the expected
    census from the base columns — independent of any URL-parsing
    code, so a Spark parsing quirk (port leakage into HOST, bad
    param grab) diffs immediately. Pure map-side projection + one
    groupBy shuffle on host."""
    c = t(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://"),
        F.lower("c_mktsegment"),
        F.lit(".shop.example"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(":8443")).otherwise(
            F.lit("")
        ),
        F.lit("/u/"),
        F.col("c_custkey").cast("string"),
        F.lit("?seg="),
        F.col("c_mktsegment"),
        F.when(F.col("c_custkey") % 5 != 0,
               F.concat(F.lit("&n="), F.col("c_nationkey").cast("string")))
        .otherwise(F.lit("")),
    )
    parsed = c.select(
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("n"))
        .cast("bigint")
        .alias("n"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count("*").alias("n_urls"),
            F.countDistinct("path").alias("n_paths"),
            F.sum("n").cast("bigint").alias("sum_n"),
            F.sum(F.when(F.col("n").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_missing_param"),
        )
    )


@register(
    "q_fn_collation",
    oracle="""
    SELECT lower(CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                      ELSE c_mktsegment END) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(c_custkey) AS BIGINT) AS first_key
    FROM customer
    GROUP BY 1 ORDER BY segment
    """,
    tags=("H1",),
)
def q_fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping (Spark 4 `collate(..., 'UTF8_LCASE')`):
    the segment labels arrive in mixed case (half lowercased at the
    source — the classic multi-upstream ingestion mess) and the
    group-by key is declared case-insensitive via COLLATION instead of
    a lower() rewrite, so the ENGINE owns the equivalence: comparisons,
    hashes and sorts all honor it, and any expression derived from the
    key inherits it — the declarative fix for case-drift, new in
    Spark 4. The exposed key is normalized through lower() because a
    collated group's representative casing is engine-specific (the
    values, not the label, are the contract — same convention as the
    collect_list sort rule). One hash-agg shuffle; collation support
    is metadata on the string type, so the plan is the same
    WholeStageCodegen hash aggregate as any groupBy."""
    styled = F.when(
        F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment")
    ).otherwise(F.col("c_mktsegment"))
    return (
        t(spark, sf_dir, "customer")
        .groupBy(F.collate(styled, "UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.count("*").alias("n"),
            F.min("c_custkey").cast("bigint").alias("first_key"),
        )
        .select(
            F.lower("seg_ci").alias("segment"), "n", "first_key"
        )
    )


@register(
    "q_fn_timezone",
    oracle="""
    WITH z AS (
        SELECT 'America/New_York' AS zone UNION ALL
        SELECT 'Asia/Tokyo' UNION ALL SELECT 'UTC'
    ),
    local_ts AS (
        SELECT z.zone,
               CAST(timezone(z.zone, timezone('UTC', e.ts)) AS DATE)
                   AS local_date,
               e.user_id
        FROM events e CROSS JOIN z
    )
    SELECT zone, local_date,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM local_ts GROUP BY zone, local_date ORDER BY zone, local_date
    """,
    tags=("H3",),
)
def q_fn_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-zone conversion (`convert_timezone`, Spark 4's explicit
    three-arg form): the fixture's naive-UTC event timestamps roll up
    to LOCAL calendar days in three zones — the daily-active-users
    report whose counts genuinely differ per zone because local
    midnight cuts the stream at different instants (UTC evening events
    belong to Tokyo's next day and New York's same day). Explicit
    source/target zones, never the session default, so the result is
    independent of any engine/session timezone setting; the DuckDB
    spelling is the two-hop timezone(zone, timezone('UTC', ts)) which
    equally never consults the session zone. IANA zone names on both
    engines share the tz database, DST rules included. Map-side
    conversion — a literal 3-zone array EXPLODE inside the one fact
    scan (r12: the union-of-three-branches spelling scanned events
    three times) + one groupBy."""
    zones = ["America/New_York", "Asia/Tokyo", "UTC"]
    e = t(spark, sf_dir, "events")
    out = e.select(
        F.explode(F.array(*[F.lit(z) for z in zones])).alias("zone"),
        "ts",
        "user_id",
    ).select(
        "zone",
        F.convert_timezone(F.lit("UTC"), F.col("zone"), F.col("ts"))
        .cast("date")
        .alias("local_date"),
        "user_id",
    )
    return (
        out.groupBy("zone", "local_date")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@register(
    "q_fn_try_arithmetic",
    oracle="""
    WITH x AS (
        SELECT CAST(ROUND(l_quantity, 0) AS BIGINT) AS qty,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
               l_returnflag AS flag
        FROM lineitem
    ),
    tried AS (
        SELECT flag,
               -- try_add overflow: 2^63-1-49 + qty spills past BIGINT
               -- exactly at the qty = 50 rows (~2% — errors must be
               -- RARE, see the exception-cost note in the docstring)
               CASE WHEN qty > 49 THEN NULL
                    ELSE 9223372036854775758 + qty END AS t_add,
               -- try_divide by zero at the qty = 25 rows; the exact
               -- rational term cents/(qty-25) is carried as the
               -- integer cents * (L / |d|) * sign(d) with
               -- L = lcm(1..25) = 26771144400, so the SUM is exact
               -- (a float sum is partial-order-dependent across
               -- partitionings and can't be hash-checked)
               CASE WHEN qty - 25 = 0 THEN NULL
                    ELSE CAST(cents AS HUGEINT)
                         * (26771144400 // ABS(qty - 25))
                         * (CASE WHEN qty - 25 < 0 THEN -1 ELSE 1 END)
                    END AS t_div_num,
               -- try_multiply overflow when cents > (2^63-1)/10^12 —
               -- only the top price tail
               CASE WHEN cents > 9223372 THEN NULL
                    ELSE cents * 1000000000000 END AS t_mul,
               -- try_element_at past the 3-element array
               CASE WHEN qty <= 3
                    THEN ['a','b','c'][CAST(qty AS INT)] END AS t_elem
        FROM x
    )
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(t_add) AS BIGINT) AS add_overflows,
           CAST(SUM(CASE WHEN t_add IS NOT NULL
                    THEN t_add - 9223372036854775758 END) AS BIGINT)
             AS add_qty_sum,
           CAST(COUNT(*) - COUNT(t_div_num) AS BIGINT) AS div_zeroes,
           CAST((CASE WHEN SUM(t_div_num) < 0 THEN -1 ELSE 1 END)
                * ((ABS(CAST(SUM(t_div_num) AS HUGEINT)) * 100)
                   // 26771144400) AS BIGINT) AS div_sum_e2,
           CAST(COUNT(*) - COUNT(t_mul) AS BIGINT) AS mul_overflows,
           CAST(COUNT(t_elem) AS BIGINT) AS elem_hits,
           MIN(t_elem) AS elem_min
    FROM tried GROUP BY flag ORDER BY flag
    """,
    tags=("H4", "H10", "composite"),
)
def q_fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-SAFE ARITHMETIC surface — the try_* family (Spark 3.2+
    ANSI companions): try_add / try_multiply return NULL on BIGINT
    overflow instead of failing the job, try_divide NULLs division by
    zero, try_element_at NULLs out-of-range access. This is the
    contract that makes ANSI mode deployable on dirty data at 100 TB —
    one poisoned row must not kill a 1000-executor stage, and NULL
    propagation keeps the error VISIBLE and countable (each per-flag
    count below is an error-rate metric a quality gate can alert on).

    Overflow sites are PLANTED deterministically from fixture columns
    (2^63-1-49 + qty overflows exactly at qty = 50, ~2% of rows;
    cents * 10^12 overflows only above the 9223372-cent price tail;
    qty = 25 divides by zero; qty > 3 indexes past the 3-element
    array), so every engine-null is predictable and the DuckDB oracle
    reproduces the NULL pattern with guard CASEs — the oracle checks
    both that try_* catches every planted error AND that the
    non-error rows compute exactly.

    MEASURED COST RULE (this query's first version planted overflow on
    ~85% of rows and ran 10 s at sf0.1, every run): Spark implements
    try_add/try_multiply overflow handling with a per-row Java
    exception on the error path (~20 us per overflowing row — throw +
    stack fill), while the success path is plain codegen arithmetic
    and try_divide / try_element_at NULL their error sites branchlessly.
    So try_* is the right tool when errors are RARE (the survival
    contract: one poisoned row must not kill the stage); a column
    where overflow is the COMMON case needs the guard-CASE spelling —
    at 100 TB an exception-per-row hot path is a cluster-sized
    regression. Error sites here are planted rare accordingly. try_divide's NULL sites are
    counted from the try_* call itself, but the checked SUM uses the
    exact lcm(1..25)-rational integer spelling — a float sum is
    partial-order-dependent across partitionings and can never be
    value-hashed.

    Plan: pure map-side expressions inside whole-stage codegen, one
    aggregate; no shuffle beyond the 3-group fold."""
    x = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)").alias("qty"),
        cents("l_extendedprice").alias("cents"),
        F.col("l_returnflag").alias("flag"),
    )
    tried = x.select(
        "flag",
        F.expr("try_add(9223372036854775758, qty)").alias("t_add"),
        F.expr(
            "CASE WHEN qty - 25 = 0 THEN NULL"
            " ELSE CAST(cents AS DECIMAL(38,0))"
            " * (26771144400 div ABS(qty - 25))"
            " * (CASE WHEN qty - 25 < 0 THEN -1 ELSE 1 END) END"
        ).alias("t_div_num"),
        F.expr("try_divide(cents, qty - 25)").alias("t_div"),
        F.expr("try_multiply(cents, 1000000000000)").alias("t_mul"),
        F.expr(
            "try_element_at(array('a', 'b', 'c'), CAST(qty AS INT))"
        ).alias("t_elem"),
    )
    return (
        tried.groupBy("flag")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            (F.count("*") - F.count("t_add")).cast("bigint").alias(
                "add_overflows"
            ),
            F.sum(
                F.when(
                    F.col("t_add").isNotNull(),
                    F.col("t_add") - F.lit(9223372036854775758).cast("bigint"),
                )
            )
            .cast("bigint")
            .alias("add_qty_sum"),
            (F.count("*") - F.count("t_div")).cast("bigint").alias(
                "div_zeroes"
            ),
            F.expr(
                "CAST((CASE WHEN SUM(t_div_num) < 0 THEN -1 ELSE 1 END)"
                " * ((ABS(CAST(SUM(t_div_num) AS DECIMAL(38,0))) * 100)"
                " div 26771144400) AS BIGINT)"
            ).alias("div_sum_e2"),
            (F.count("*") - F.count("t_mul")).cast("bigint").alias(
                "mul_overflows"
            ),
            F.count("t_elem").cast("bigint").alias("elem_hits"),
            F.min("t_elem").alias("elem_min"),
        )
    )


# The Luhn digit-sum over positions 1..L of a digit string {d}: the
# rightmost digit carries right-index 0 (never doubled); doubling a
# digit > 4 subtracts 9 (the sum-of-digits identity 2g - 9 for 2g > 9).
# {shift} lets the SAME spelling serve validation (shift=0: parity from
# the string's own right edge) and check-digit GENERATION (shift=1:
# parity as if one more digit were appended to the right).
_LUHN_SUM_SPARK = (
    "aggregate(sequence(1, length({d})), 0L, (acc, p) -> acc +"
    " (CASE WHEN (length({d}) - p + {shift}) % 2 = 1"
    "  THEN (CASE WHEN 2 * CAST(substring({d}, p, 1) AS BIGINT) > 9"
    "        THEN 2 * CAST(substring({d}, p, 1) AS BIGINT) - 9"
    "        ELSE 2 * CAST(substring({d}, p, 1) AS BIGINT) END)"
    "  ELSE CAST(substring({d}, p, 1) AS BIGINT) END))"
)
_LUHN_SUM_DUCK = (
    "list_sum(list_transform(range(1, length({d}) + 1), p ->"
    " (CASE WHEN (length({d}) - p + {shift}) % 2 = 1"
    "  THEN (CASE WHEN 2 * CAST(substring({d}, p, 1) AS BIGINT) > 9"
    "        THEN 2 * CAST(substring({d}, p, 1) AS BIGINT) - 9"
    "        ELSE 2 * CAST(substring({d}, p, 1) AS BIGINT) END)"
    "  ELSE CAST(substring({d}, p, 1) AS BIGINT) END)))"
)


@register(
    "q_fn_luhn",
    oracle=f"""
    WITH x AS (
        SELECT c_mktsegment AS seg,
               lpad(CAST(c_custkey AS VARCHAR), 9, '0')
                 || lpad(CAST(c_nationkey AS VARCHAR), 2, '0') AS d
        FROM customer
    ),
    b AS (
        SELECT seg, d,
               substring(d, 1, length(d) - 1) AS base
        FROM x
    ),
    v AS (
        SELECT seg,
               {_LUHN_SUM_DUCK.format(d="d", shift="0")} % 10 = 0
                 AS phone_valid
        FROM b
    )
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN phone_valid THEN 1 ELSE 0 END) AS BIGINT)
             AS n_valid,
           CAST(COUNT(*) AS BIGINT) AS n_synth_valid,
           CAST(0 AS BIGINT) AS n_tampered_valid
    FROM v
    GROUP BY seg ORDER BY seg
    """,
    tags=("H2", "H4"),
)
def q_fn_luhn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LUHN CHECKSUM surface (`luhn_check`, Spark 4 SPARK-42191) — the
    mod-10 self-check digit scheme of card/IMEI/account identifiers,
    the classic ingest-validation gate. Three proofs ride one scan of
    the customer phone digits, per market segment:

    (1) VALIDATE: `luhn_check(digits)` over the raw phone digit
    string — pseudorandom digits pass at ~1/10, so n_valid is a
    nontrivial count both engines must agree on. The ORACLE implements
    Luhn from its definition (a positional digit-sum inside
    list_transform, doubling every second digit from the right with
    the 2g-9 carry fold) — builtin vs from-scratch agreement pins the
    builtin's semantics, the CC/clustering two-algorithms discipline.
    (2) GENERATE + round-trip: the check digit c = (10 - S mod 10)
    mod 10 computed under APPENDED parity (the shift=1 spelling of
    the same digit-sum template) makes luhn_check(base || c) TRUE for
    EVERY row — n_synth_valid = n is the planted always-TRUE branch,
    and the Spark side genuinely runs the builtin over the generated
    string (the oracle states the identity by construction).
    (3) TAMPER: adding 5 to the check digit mod 10 (a single-digit
    transcription error, the exact fault class Luhn is designed to
    catch) makes luhn_check FALSE for every row — n_tampered_valid =
    0, the planted always-FALSE branch (5 is self-inverse mod 10 and
    never maps c to itself; a doubled-position error of +/-5 could
    slip through Luhn, an undoubled one cannot — the rightmost check
    digit is never doubled).

    Exactness: everything is integer digit arithmetic; the only
    engine-facing subtlety is that Spark's HOF lambda re-evaluates an
    inlined once-referenced alias per element (CollapseProject — the
    standing trap), dodged here because d/base are each referenced
    >= 2x so the projection survives.

    Plan at 100 TB: map-only per-row digit folds (sequence(1, ~12) —
    bounded fan-in, no explode materialized) into one
    map-side-combined 5-row groupBy; the scan is the entire cost."""
    x = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "lpad(CAST(c_custkey AS STRING), 9, '0')"
            " || lpad(CAST(c_nationkey AS STRING), 2, '0')"
        ).alias("d"),
    )
    b = x.select(
        "seg",
        "d",
        F.expr("substring(d, 1, length(d) - 1)").alias("base"),
    )
    v = b.select(
        "seg",
        F.expr("luhn_check(d)").alias("phone_valid"),
        F.expr(
            "luhn_check(concat(base, CAST((10 - "
            + _LUHN_SUM_SPARK.format(d="base", shift="1")
            + " % 10) % 10 AS STRING)))"
        ).alias("synth_valid"),
        F.expr(
            "luhn_check(concat(base, CAST(((10 - "
            + _LUHN_SUM_SPARK.format(d="base", shift="1")
            + " % 10) % 10 + 5) % 10 AS STRING)))"
        ).alias("tampered_valid"),
    )
    return (
        v.groupBy("seg")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.when(F.col("phone_valid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_valid"),
            F.sum(F.when(F.col("synth_valid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_synth_valid"),
            F.sum(F.when(F.col("tampered_valid"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_tampered_valid"),
        )
    )
