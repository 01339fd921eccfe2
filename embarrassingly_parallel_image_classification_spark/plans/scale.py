"""Scale techniques as library operators (SURVEY.md §4): the moves a
100 TB deployment makes that are invisible at fixture scale — each
expressed as a reusable function plus a registered query whose oracle
proves the technique is SEMANTICS-PRESERVING (same answer as the naive
formulation; only the physical plan differs).

* bloom_semi_join   — ship a Bloom filter of the dim keys instead of
                      shuffling the fact for a semi join: fact rows are
                      pre-dropped at the scan side, the residual exact
                      semi join only sees survivors. At 100 TB this cuts
                      the shuffle by the filter's selectivity.
* salted_join       — break a skewed hot key across S salt buckets:
                      fact key → (key, hash%S), dim replicated S× with a
                      salt column. Every bucket shuffles independently —
                      no single reducer owns the hot key. (AQE skew-join
                      handles sort-merge skew automatically; salting is
                      the portable fallback and works for aggregates.)
* bucketed_join     — co-located join via bucketBy table layout: both
                      sides pre-hashed into the same bucket scheme at
                      write time, so the join plans with ZERO Exchange
                      (verified in tests/test_plans_scale.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..localframe import local_df
from ..registry import register
from ..sources.formats import scratch_tag
from ..sources.tables import cents, t


BLOOM_BITS = 1 << 17  # 128 Ki bits = 2048 longs — fine as a broadcast literal
BLOOM_SEEDS = (1, 2, 3, 4, 5)


def build_bloom(dim: DataFrame, key: str, m_bits: int = BLOOM_BITS, seeds=BLOOM_SEEDS) -> list[int]:
    """Build a Bloom-filter bitmap (list of int64 words) from the dim
    keys — IN SPARK, so the probe side's xxhash64 agrees bit-for-bit.

    One job, ONE scan: all k per-key positions exploded from a single
    projection (a k-way union of scans re-read the dim k times —
    measured 2× slower even at sf0.1), then groupBy word → bit_or of
    the set bits; only m/64 words come back to the driver.
    """
    pos = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.col(key), F.lit(s)), F.lit(m_bits))
                    for s in seeds
                ]
            )
        ).alias("p")
    )
    rows = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(F.col("p"), F.lit(64)).cast("int")
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    words = [0] * (m_bits // 64)
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def _bloom_probe(arr: Column, key: Column, m_bits: int, seeds) -> Column:
    """True where every seed's hash position of ``key`` is set in the
    array<long> bitmap ``arr`` (k positions, one word and bit each)."""
    cond = F.lit(True)
    for s in seeds:
        p = F.pmod(F.xxhash64(key, F.lit(s)), F.lit(m_bits))
        word = F.element_at(arr, (p / 64).cast("int") + 1)
        bit = F.call_function(
            "shiftright", word, F.pmod(p, F.lit(64)).cast("int")
        ).bitwiseAND(F.lit(1))
        cond = cond & (bit == 1)
    return cond


def bloom_might_contain(
    words: list[int], key: Column, m_bits: int = BLOOM_BITS, seeds=BLOOM_SEEDS
) -> Column:
    """Pure-Catalyst Bloom membership test: k hash positions checked
    against an array<long> literal — stays inside whole-stage codegen,
    no Python, no shuffle, applied at the scan."""
    return _bloom_probe(F.lit(words), key, m_bits, seeds)


def bloom_probe_col(key: Column, m_bits: int = BLOOM_BITS, seeds=BLOOM_SEEDS) -> Column:
    """Bloom membership test against a ``__bloom`` array<long> COLUMN
    (attach it with a broadcast 1-row crossJoin). Same arithmetic as
    bloom_might_contain, but the bitmap rides in as row data instead of
    a 2048-element array literal — a literal that size bloats the
    generated code past HotSpot's JIT inlining limits and the probe
    runs interpreted (measured 2× slower end-to-end at sf0.1; the
    probe alone 1.07 s literal vs 0.51 s column on 600 k rows)."""
    return _bloom_probe(F.col("__bloom"), key, m_bits, seeds)


def bloom_semi_join(fact: DataFrame, fact_key: str, dim: DataFrame, dim_key: str) -> DataFrame:
    """Semi join with a Bloom pre-prune: the fact side is filtered by the
    dim-key Bloom BEFORE the exact semi join, so at 100 TB the shuffle
    only carries probable matches (false positives removed by the
    residual semi join — the result is exactly ``fact ⋉ dim``). The
    bitmap is attached as a broadcast 1-row array column, not a giant
    literal (see bloom_probe_col)."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    words = build_bloom(dim, dim_key)
    spark = fact.sparkSession
    wdf = local_df(
        spark, [(words,)],
        StructType([StructField("__bloom", ArrayType(LongType()), False)]),
    )
    pruned = (
        fact.crossJoin(F.broadcast(wdf))
        .filter(bloom_probe_col(F.col(fact_key)))
        .drop("__bloom")
    )
    d = dim.select(F.col(dim_key).alias("__dk")).distinct()
    return pruned.join(d, pruned[fact_key] == d["__dk"], "left_semi")


@register(
    "q_scale_bloom_prune",
    oracle="""
    SELECT l_orderkey, COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')
    GROUP BY l_orderkey
    """,
    tags=("scale", "C4"),
)
def q_scale_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi join: lineitems of urgent orders. Must equal
    the plain IN-subquery — the Bloom filter only pre-drops rows."""
    li = t(spark, sf_dir, "lineitem")
    urgent = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    pruned = bloom_semi_join(li, "l_orderkey", urgent, "o_orderkey")
    return pruned.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-resistant equi-join: fact side gets a deterministic salt from
    a secondary hash, dim side is replicated n_salts×; the join key
    becomes (key, salt). Result is exactly fact ⋈ dim."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    dim_rep = dim.select("*", salts)
    fact_salted = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    out = fact_salted.join(dim_rep, [key, "_salt"]).drop("_salt")
    return out


@register(
    "q_scale_salted_join",
    oracle="""
    SELECT c.c_mktsegment, COUNT(*) AS n, ROUND(SUM(o.o_totalprice), 4) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("scale", "C1"),
)
def q_scale_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted orders⋈customer must give the same aggregate as the plain
    join (the salt only re-routes rows among reducers)."""
    o = t(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "join_key")
    c = t(spark, sf_dir, "customer").withColumnRenamed("c_custkey", "join_key")
    joined = salted_join(o, c, "join_key", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")
    )


BUCKETS = 8


def bucket_table_names(sf_dir: str) -> tuple[str, str]:
    """(lineitem, orders) bucketed-table names for ``sf_dir``, tagged
    with ``scratch_tag`` (dots made underscores for a table name): two
    processes (e.g. pytest + a driver run) sharing one warehouse dir
    must not overwrite each other's bucket files mid-scan — observed as
    a flaky missing-file read when the full test suite and
    drive_contract ran concurrently."""
    tag = scratch_tag(sf_dir).replace(".", "_")
    return f"lineitem_b_{tag}", f"orders_b_{tag}"


def write_bucketed(df: DataFrame, table: str, key: str, buckets: int = BUCKETS) -> None:
    """Persist a table bucketed by the join key (sorted within buckets).
    At 100 TB this is done once at ingest; every subsequent equi-join or
    aggregation on the key is shuffle-free."""
    (
        # repartition on the bucket key first → exactly one file per
        # bucket; Spark only trusts (and exploits) the sortBy order
        # when a bucket is a single file, which is what eliminates the
        # Sort under the join as well as the Exchange.
        df.repartition(buckets, F.col(key))
        .write.mode("overwrite")
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", os.path.join(tempfile.gettempdir(), "epic_spark_scratch", table))
        .saveAsTable(table)
    )


@register(
    "q_scale_bucketed_join",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n_lines,
           ROUND(SUM(l.l_extendedprice), 4) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
    tags=("scale", "C1"),
)
def q_scale_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem⋈orders through a bucketed layout: both sides bucketed by
    orderkey at write time → the join itself plans with no Exchange
    (asserted in tests); values equal the plain join."""
    lt, ot = bucket_table_names(sf_dir)
    # The scan trusts the per-bucket sortBy order (one file per bucket,
    # see write_bucketed; spark.sql.legacy.bucketedTableScan.
    # outputOrdering is an ENGINE_CONFS entry) — this is what removes
    # the Sort under the SMJ, not just the Exchange.
    if not spark.catalog.tableExists(lt):
        write_bucketed(t(spark, sf_dir, "lineitem"), lt, "l_orderkey")
    if not spark.catalog.tableExists(ot):
        write_bucketed(t(spark, sf_dir, "orders"), ot, "o_orderkey")
    li = spark.table(lt)
    o = spark.table(ot)
    # merge hint: force SMJ so the bucketed layout shows its value —
    # zero Exchange AND zero Sort on both sides (pre-bucketed+sorted).
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_lines"), F.round(F.sum("l_extendedprice"), 4).alias("total_price")
    )


def _spread_sql(x: str) -> str:
    """8-bit → even-bit-positions spread (Morton half), as portable SQL
    integer ops (same text runs on Spark SQL and DuckDB)."""
    s = x
    s = f"(({s} | ({s} << 4)) & 3855)"   # 0x0F0F
    s = f"(({s} | ({s} << 2)) & 13107)"  # 0x3333
    s = f"(({s} | ({s} << 1)) & 21845)"  # 0x5555
    return s


_ZKEY_SQL = (
    f"({_spread_sql('(user_id % 256)')}"
    f" | ({_spread_sql('(CAST(FLOOR(ABS(value)) AS BIGINT) % 256)')} << 1))"
)


@register(
    "q_scale_zorder",
    oracle=f"""
    SELECT event_id,
           CAST({_ZKEY_SQL} AS BIGINT) AS zkey
    FROM events
    ORDER BY zkey, event_id
    LIMIT 100
    """,
    tags=("S", "H11", "F1"),
)
def q_scale_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: interleave the low 8 bits of
    user_id and a value bucket via magic-number bit spreads — the
    multi-dimensional data-layout technique behind Delta/Iceberg
    OPTIMIZE ZORDER. Sorting 100 TB by zkey before writing makes
    parquet min/max stats selective on BOTH dimensions at once, so
    either-column predicates skip files (a single-column sort only
    prunes its own column). Pure integer bit ops — the SAME SQL text
    is the Spark expression and the DuckDB oracle. Here the key is
    computed, sorted and truncated; the full pipeline would
    `.repartitionByRange(zkey).sortWithinPartitions(zkey).write`."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select("event_id", F.expr(_ZKEY_SQL).cast("bigint").alias("zkey"))
        .orderBy("zkey", "event_id")
        .limit(100)
    )


# Per event type the count and the cent sum of events: what a rewrite
# of the events table (compaction here, streaming ingest in
# plans/lakehouse.py) must still aggregate to.
_TYPE_CENTS_ORACLE = """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    GROUP BY event_type
    """


@register(
    "q_scale_compaction",
    oracle=_TYPE_CENTS_ORACLE,
    tags=("scale", "A6", "A1"),
)
def q_scale_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction — the table-maintenance job every
    streaming/incremental lake needs: a fragmented table (64 tiny
    files, simulating per-microbatch appends) is rewritten with
    repartition(4) into executor-memory-sized files, and the compacted
    copy must be byte-equivalent to the source (oracle aggregates the
    ORIGINAL events table; a dropped/duplicated row during rewrite
    fails the hash). At 100 TB the same job targets
    spark.sql.files.maxPartitionBytes-sized outputs per partition-dir
    and runs partition-by-partition; file-count collapse is asserted
    in tests/test_plans_scale.py."""
    import shutil

    from ..sources.formats import scratch

    frag = scratch("compact_frag", sf_dir)
    compact = scratch("compact_out", sf_dir)
    shutil.rmtree(frag, ignore_errors=True)
    shutil.rmtree(compact, ignore_errors=True)
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        cents("value").alias("cents"),
    )
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(compact)
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.sum("cents")).cast("bigint").alias("cents"),
    )


def route_rollup(
    mv: DataFrame, group_cols: list[str], measures: dict[str, str]
) -> DataFrame:
    """Aggregate-navigator rewrite [PK]: answer a COARSER group-by from
    a finer materialized aggregate instead of the base table. Valid
    because the re-aggregable measures (SUM of partial sums, SUM of
    partial counts, MIN of MINs, MAX of MAXs) form the classic
    distributive-aggregate algebra; ``measures`` maps MV column →
    combining function name. Raises if the requested grouping isn't a
    subset of the MV's columns (then the MV can't answer it and the
    caller must fall back to base)."""
    missing = [c for c in group_cols if c not in mv.columns]
    if missing:
        raise ValueError(f"MV cannot answer grouping: missing {missing}")
    aggs = [
        getattr(F, fn)(c).alias(c) for c, fn in measures.items()
    ]
    return mv.groupBy(*group_cols).agg(*aggs)


@register(
    "q_mv_routing",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
               AS cents,
           MAX(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS max_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("S", "D1", "composite"),
)
def q_mv_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view ROUTING: the per-priority report is answered
    from a (priority, month) pre-aggregate — SUM of partial counts,
    SUM of partial sums, MAX of partial MAXes — never rescanning
    orders, while the oracle computes the same report straight from
    the base table; any measure that doesn't re-aggregate losslessly
    through the MV fails the exact hash. This is the rewrite that
    makes a 100 TB fact table interactively queryable: the MV is
    |priorities|×|months| rows, and tests/test_plans.py pins that the
    routed plan's only scan reads the MV path, not orders. The MV is
    maintained incrementally by the lakehouse layer's IVM
    (q_lake_incremental_agg) — this query is the READ side of that
    contract."""
    import shutil

    from ..sources.formats import scratch

    path = scratch("mv_priority_month", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.date_trunc("month", "o_orderdate").alias("month"),
        cents("o_totalprice").alias("cents"),
    )
    (
        o.groupBy("o_orderpriority", "month")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
            F.max("cents").alias("max_cents"),
        )
        .write.mode("overwrite")
        .parquet(path)
    )
    mv = spark.read.parquet(path)
    return route_rollup(
        mv,
        ["o_orderpriority"],
        {"n_orders": "sum", "cents": "sum", "max_cents": "max"},
    ).select(
        "o_orderpriority",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("cents").cast("bigint").alias("cents"),
        "max_cents",
    )


@register(
    "q_scale_skew_audit",
    oracle="""
    WITH k AS (
        SELECT o_custkey AS key, COUNT(*) AS cnt
        FROM orders GROUP BY o_custkey),
    top5 AS (
        SELECT key, cnt FROM k
        QUALIFY ROW_NUMBER() OVER (ORDER BY cnt DESC, key) <= 5),
    stats AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM k)
    SELECT s.n_rows, s.n_keys, s.max_cnt,
           (s.max_cnt * 1000000) // s.n_rows AS max_share_e6,
           (s.n_rows * 1000000) // s.n_keys AS mean_cnt_e6,
           (SELECT array_to_string(
                list(key || ':' || cnt ORDER BY cnt DESC, key), ',')
            FROM top5) AS top_keys
    FROM stats s
    """,
    tags=("scale", "D1", "F2"),
)
def q_scale_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit — the diagnostic a pipeline runs BEFORE
    choosing between plain shuffle, broadcast, AQE skew-split, or the
    salting in q_scale_salted_join: per-key counts of the prospective
    shuffle key, reduced to row count, NDV, the hottest key's absolute
    count and fixed-point share, the mean per-key count, and the top-5
    keys inline ('key:cnt', hotness-ordered). At 100 TB this is ONE
    map-side-combined groupBy on the key (the same shuffle the join
    itself would do, so the audit costs what one stage of the join
    costs) followed by a 5-row TakeOrderedAndProject and a 1-row
    aggregate — the two tiny frames meet in a scalar crossJoin, never
    the fact table. A max_share_e6 over ~1/shuffle-partitions is the
    standard 'this key will straggle' signal."""
    k = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count("*").alias("cnt"))
    )
    stats = k.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    top5 = (
        k.orderBy(F.desc("cnt"), "key")
        .limit(5)  # TakeOrderedAndProject: partition-local top-5 + merge
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct((-F.col("cnt")).alias("neg"),
                                                "key", "cnt"))
                    ),
                    lambda s: F.concat(
                        s["key"].cast("string"),
                        F.lit(":"),
                        s["cnt"].cast("string"),
                    ),
                ),
                ",",
            ).alias("top_keys")
        )
    )
    return stats.crossJoin(top5).select(
        "n_rows",
        "n_keys",
        "max_cnt",
        F.expr("(max_cnt * 1000000) DIV n_rows").alias("max_share_e6"),
        F.expr("(n_rows * 1000000) DIV n_keys").alias("mean_cnt_e6"),
        "top_keys",
    )


_NULL_SENTINEL = "<NULL>"


def row_fingerprint60(*cols) -> "F.Column":
    """Canonical NULL-SAFE 60-bit row hash shared by the batch and
    streaming reconciliation queries (review finding: the spelling was
    duplicated and one copy was not null-safe): every field is cast to
    string and NULL is rendered as an explicit sentinel BEFORE the
    '|' join — Spark's concat_ws silently DROPS null args (so
    (NULL,'x') and ('x',NULL) would collide) while SQL '||' nulls the
    whole row (so the engines would diverge); the sentinel closes
    both. 15 hex chars = 60 bits fits SIGNED bigint in both engines
    (16 would overflow Spark's cast)."""
    safe = [
        F.coalesce(F.col(c).cast("string") if isinstance(c, str)
                   else c.cast("string"), F.lit(_NULL_SENTINEL))
        for c in cols
    ]
    return md5_int(F.concat_ws("|", *safe), 15)


def checksum_report(df: DataFrame) -> DataFrame:
    """(bucket, h60) → the per-bucket reconciliation triple: row count,
    60-bit XOR, modular hash sum (XOR alone is blind to a row
    duplicated twice; count+sum close that)."""
    return df.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.expr("BIT_XOR(h60)").cast("bigint").alias("xor60"),
        F.sum(F.col("h60") % 1000000000).cast("bigint").alias("sum_mod"),
    )


@register(
    "q_reconcile_checksum",
    oracle="""
    WITH h AS (
        SELECT doc_id % 16 AS bucket,
               ('0x' || substring(
                    md5(COALESCE(CAST(doc_id AS VARCHAR), '<NULL>') || '|'
                        || COALESCE(lang, '<NULL>') || '|'
                        || COALESCE(source, '<NULL>') || '|'
                        || COALESCE(CAST(n_chars AS VARCHAR), '<NULL>')
                        || '|' || COALESCE(md5(text), '<NULL>')), 1, 15)
               )::BIGINT AS h60
        FROM documents)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(BIT_XOR(h60) AS BIGINT) AS xor60,
           CAST(SUM(h60 % 1000000000) AS BIGINT) AS sum_mod
    FROM h GROUP BY bucket
    """,
    tags=("scale", "D1", "H9"),
)
def q_reconcile_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system table reconciliation fingerprint — the audit a
    migration runs on BOTH systems to prove "same rows, nothing lost,
    nothing duplicated" without moving data: an ORDER-INDEPENDENT
    per-bucket checksum (XOR of a canonical 60-bit row hash) plus row
    count and a modular hash sum. The row hash is row_fingerprint60 —
    null-safe by sentinel (a NULL field renders as '<NULL>', so
    (NULL,'x') vs ('x',NULL) cannot collide on Spark and the engines
    cannot diverge on null rows) — with long text pre-hashed. Buckets
    mean a mismatch localizes to 1/16th of the table instead of one
    useless table-level boolean — at 100 TB, bucket by the table's
    partition key so each mismatch names the partition to re-copy.
    Plan: pure map-side hashing into one map-side-combined groupBy —
    the cheapest possible full-table pass, and the SAME SQL text runs
    on any engine with md5 (the q_scale_zorder portability
    convention)."""
    d = t(spark, sf_dir, "documents")
    return checksum_report(
        d.select(
            (F.col("doc_id") % 16).cast("bigint").alias("bucket"),
            row_fingerprint60(
                "doc_id", "lang", "source", "n_chars", F.md5("text")
            ).alias("h60"),
        )
    )
