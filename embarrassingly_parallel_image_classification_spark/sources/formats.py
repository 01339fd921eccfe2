"""A2–A9 (batch half): CSV / JSON / binary-file scans and partitioned
sinks (SURVEY.md §2-A).

Each scan query ROUND-TRIPS fixture data through the format (write to a
scratch dir, read back with an explicit schema) and aggregates the
result; the oracle recomputes the aggregate from the source table, so a
lossy write or a mis-schema'd read fails the value hash — the
round-trip IS the correctness check.

Reference analog: CSV manifests + PNG bytes on WASB blob storage [PK].
Scratch dirs are per-(format, sf) and rewritten idempotently
(mode=overwrite), mirroring a partitioned lake layout.
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..localframe import local_df
from ..registry import register
from .tables import cents, t

_SCRATCH = os.path.join(tempfile.gettempdir(), "epic_spark_scratch")


def scratch_tag(sf_dir: str) -> str:
    """``<sf dir name>_<pid>``: the tag every pid-scoped scratch name
    (``scratch`` dirs, plans/scale.py's bucketed tables) ends in. The
    pid isolates concurrent processes (e.g. pytest and drive_contract
    running together): two processes overwriting one path race a
    reader into missing-file errors."""
    return f"{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}"


def mask_scratch_pid(text: str) -> str:
    """`text` with this process's pid masked (``_<pid>``) where it ends
    a scratch tag (``_<sf dir name>_<pid>``, dots or underscores in the
    name) and nowhere else: the same digits elsewhere are some other
    number."""
    return re.sub(rf"(_[^\s/'\"_]+)_{os.getpid()}(?!\d)", r"\1_<pid>", text)


def scratch(kind: str, sf_dir: str) -> str:
    """Per-(kind, sf, PID) scratch dir (``scratch_tag``): the sink
    queries rewrite their scratch idempotently. Any oracle that reads a
    scratch path back builds its SQL through this helper when the
    oracle is resolved, so query and oracle stay in the same pid."""
    return os.path.join(_SCRATCH, f"{kind}_{scratch_tag(sf_dir)}")


ORDERS_CSV_SCHEMA = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
)


@register(
    "q_scan_csv",
    oracle="""
    SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders GROUP BY o_orderstatus
    """,
    tags=("A2", "A7"),
)
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + scan round-trip (the reference's manifest format [PK]):
    orders → csv (header) → read with explicit schema → aggregate."""
    path = scratch("orders_csv", sf_dir)
    t(spark, sf_dir, "orders").write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(ORDERS_CSV_SCHEMA).option("header", True).csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")
    )


@register(
    "q_scan_json",
    oracle="""
    SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
    FROM documents GROUP BY lang
    """,
    tags=("A4",),
)
def q_scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan round-trip with explicit schema."""
    path = scratch("docs_json", sf_dir)
    t(spark, sf_dir, "documents").write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).json(path)
    return back.groupBy("lang").agg(
        F.count("*").alias("n"), F.sum("n_chars").alias("chars")
    )


@register(
    "q_sink_partitioned",
    oracle="""
    SELECT EXTRACT(year FROM o_orderdate) AS oyear, o_orderstatus,
           COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders GROUP BY 1, 2
    """,
    tags=("A6",),
)
def q_sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink (partitionBy year) + partition-pruned
    read-back. The layout this engine would use for every derived table
    at 100 TB; partition pruning over it is verified in test_plans.py."""
    path = scratch("orders_by_year", sf_dir)
    o = t(spark, sf_dir, "orders").withColumn("oyear", F.year("o_orderdate"))
    o.write.mode("overwrite").partitionBy("oyear").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("oyear", "o_orderstatus").agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 4).alias("total")
    )


@register(
    "q_scan_orc",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           ROUND(SUM(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("A2", "A6"),
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip (Spark's second built-in columnar
    format; a lake in ORC is a drop-in for parquet — same pushdown and
    column pruning via the native ORC reader). The oracle recomputes
    from the parquet origin, so a lossy round-trip fails the hash."""
    path = scratch("lineitem_orc", sf_dir)
    t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    ).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("sum_qty")
    )


@register(
    "q_scan_xml",
    oracle="""
    SELECT n_regionkey, COUNT(*) AS n_nations,
           MIN(n_name) AS first_nation, MAX(n_name) AS last_nation
    FROM nation GROUP BY n_regionkey
    """,
    tags=("A2", "A7"),
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan round-trip (Spark 4's built-in XML data source —
    the config/feed format of enterprise lakes): nation → XML rowTag
    records → read back with explicit schema → aggregate. The oracle
    recomputes from the parquet origin, so entity-escaping or schema
    drift in the round-trip fails the hash."""
    path = scratch("nation_xml", sf_dir)
    t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    ).write.format("xml").option("rowTag", "nation").mode("overwrite").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
        .load(path)
    )
    return back.groupBy("n_regionkey").agg(
        F.count("*").alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_name").alias("last_nation"),
    )


@register(
    "q_inmemory_source",
    oracle="""
    WITH taxonomy(code, coarse) AS (
        VALUES (11, 'Water'), (21, 'Developed'), (22, 'Developed'),
               (41, 'Forest'), (42, 'Forest'), (81, 'Cultivated')
    )
    SELECT coarse, COUNT(*) AS n_codes, MIN(code) AS min_code
    FROM taxonomy GROUP BY coarse
    """,
    tags=("A5",),
)
def q_inmemory_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-memory source: a literal label-taxonomy table (the reference's
    NLCD-code→coarse-class dict [PK]) created driver-side and aggregated
    like any other relation."""
    taxonomy = local_df(
        spark,
        [(11, "Water"), (21, "Developed"), (22, "Developed"),
         (41, "Forest"), (42, "Forest"), (81, "Cultivated")],
        "code int, coarse string",
    )
    return taxonomy.groupBy("coarse").agg(
        F.count("*").alias("n_codes"), F.min("code").alias("min_code")
    )


@register(
    "q_scan_binary",
    # The oracle reads the SAME fixture files as opaque blobs with
    # DuckDB's read_blob — size and whole-content md5 are properties
    # of the bytes on disk, so the match proves Spark's binaryFile
    # source delivered every file VERBATIM (round 10: upgraded from
    # rows-only — the old "encoder-dependent" caveat confused the
    # fixture GENERATION step with the scan under test, which reads
    # fixed bytes).
    oracle=lambda: f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(size AS BIGINT) AS length,
           md5(hex(content)) AS content_md5
    FROM read_blob('{_SCAN_BINARY_SF}/*.parquet')
    ORDER BY file_name
    """,
    tags=("A3",),
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile scan — the reference's raw-image-bytes ingestion
    (sc.binaryFiles on blob [PK≈]) as a DataFrame source. Reads the
    fixture parquet files themselves as opaque blobs; emits (file
    name, byte length, whole-content md5), which the oracle reproduces
    from the same on-disk bytes via read_blob — an end-to-end
    byte-fidelity proof of the binary source. The digest is
    md5(hex(content)): DuckDB's md5 only accepts VARCHAR and its
    blob->VARCHAR cast escapes bytes, but both engines' hex() emit the
    identical uppercase hex string, so hashing THAT compares the raw
    payload bytes losslessly."""
    df = spark.read.format("binaryFile").load(f"{sf_dir}/*.parquet")
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length"),
        F.md5(F.hex("content")).alias("content_md5"),
    )


# q_scan_binary's oracle is resolved when oracle_sql() is asked (the
# q_scan_provenance callable-oracle pattern); the driver compares at
# sf0.01 by contract.
_SCAN_BINARY_SF = "/root/testdata/sf0.01"


@register(
    "q_scan_provenance",
    # The oracle reads the SAME scratch sink the Spark query writes.
    # It is a CALLABLE resolved when oracle_sql() is asked for it (not
    # at import), so the pid-suffixed scratch path is the asking
    # process's — a harness that serializes oracle specs across
    # processes still reads the right dir (round-5 ADVICE low). The
    # sf tag stays pinned to sf0.01 because the driver's oracle-compare
    # contract runs exactly there; the Spark query runs first in the
    # harness, (re)writing the sink before DuckDB reads it.
    oracle=lambda: f"""
    WITH src AS (
        SELECT oyear, filename
        FROM read_parquet(
            '{scratch("orders_by_year", "sf0.01")}/**/*.parquet',
            filename = true, hive_partitioning = true)
    )
    SELECT CAST(oyear AS BIGINT) AS oyear,
           COUNT(DISTINCT regexp_extract(filename, '([^/]+)$', 1)) AS n_files,
           COUNT(*) AS n_rows
    FROM src
    GROUP BY oyear
    """,
    tags=("A1", "A6", "metadata"),
)
def q_scan_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row provenance via the hidden `_metadata` struct (Spark ≥3.4
    metadata columns): every row of the year-partitioned sink is
    attributed to its physical file, then files and rows are counted
    per partition — the audit query a lineage system runs (which files
    feed which partition, are any partitions over-fragmented). The
    DuckDB oracle reads the SAME directory with `filename = true`;
    both engines normalize to the basename so URI-scheme differences
    (file:// vs plain path) can't leak into the hash."""
    # ensure the partitioned sink exists (same helper the A6 query uses)
    from ..registry import _REGISTRY

    _REGISTRY["q_sink_partitioned"].fn(spark, sf_dir).collect()
    path = scratch("orders_by_year", sf_dir)
    part = spark.read.parquet(path)
    return (
        part.select(
            "oyear",
            F.regexp_extract(F.col("_metadata.file_path"), "([^/]+)$", 1).alias(
                "fname"
            ),
        )
        .groupBy("oyear")
        .agg(
            F.countDistinct("fname").alias("n_files"),
            F.count("*").alias("n_rows"),
        )
        .select(F.col("oyear").cast("bigint").alias("oyear"), "n_files", "n_rows")
    )


@register(
    "q_scan_merge_schema",
    # callable oracle: the scratch path resolves in the asking process
    # (same contract as q_scan_provenance); the Spark query runs first
    # and (re)writes both generations before DuckDB reads them
    oracle=lambda: f"""
    WITH src AS (
        SELECT * FROM read_parquet(
            ['{scratch("schema_gen1", "sf0.01")}/*.parquet',
             '{scratch("schema_gen2", "sf0.01")}/*.parquet'],
            union_by_name = true)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(cents) AS BIGINT) AS n_with_cents,
           CAST(COUNT(priority) AS BIGINT) AS n_with_priority,
           CAST(SUM(COALESCE(cents, 0)) AS BIGINT) AS total_cents
    FROM src
    """,
    tags=("A1", "A4", "metadata"),
)
def q_scan_merge_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-merging parquet scan (`mergeSchema=true` ≡ DuckDB's
    union_by_name): two file generations of one dataset — gen1 wrote
    (k, cents), gen2 added a `priority` column and dropped nothing —
    read as ONE frame whose schema is the union, with NULLs where a
    generation lacks a column. This is schema DRIFT AT THE SCAN, the
    raw-files sibling of the lakehouse layer's manifest-mediated
    schema evolution (plans/lakehouse.py L4): no manifest exists, so
    the reader pays per-file footer reconciliation instead — which is
    why mergeSchema is off by default in Spark and the lakehouse path
    is the scale answer; both belong in the inventory. NULL-counting
    aggregates pin the widening exactly."""
    g1 = scratch("schema_gen1", sf_dir)
    g2 = scratch("schema_gen2", sf_dir)
    o = t(spark, sf_dir, "orders")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("k"),
        cents("o_totalprice").alias("cents"),
    ).coalesce(2).write.mode("overwrite").parquet(g1)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("priority"),
    ).coalesce(2).write.mode("overwrite").parquet(g2)
    merged = spark.read.option("mergeSchema", "true").parquet(g1, g2)
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.count("cents").cast("bigint").alias("n_with_cents"),
        F.count("priority").cast("bigint").alias("n_with_priority"),
        F.sum(F.coalesce(F.col("cents"), F.lit(0)))
        .cast("bigint")
        .alias("total_cents"),
    )


@register(
    "q_scan_csv_corrupt",
    oracle="""
    WITH src AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
               o_orderpriority,
               o_orderkey % 7 = 0 AS corrupt
        FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupt,
           CAST(SUM(CASE WHEN NOT corrupt THEN cents END) AS BIGINT)
               AS good_cents,
           CAST(COUNT(DISTINCT CASE WHEN NOT corrupt
                                    THEN o_orderpriority END) AS BIGINT)
               AS n_good_prios
    FROM src
    """,
    tags=("A2", "quality"),
)
def q_scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record handling at the CSV scan (PERMISSIVE mode +
    `columnNameOfCorruptRecord`) — the ingestion-robustness surface
    every file-drop pipeline needs: a deterministic CSV is staged with
    every 7th row's numeric field poisoned ('X'-prefixed), then read
    back under a strict schema. PERMISSIVE parses what it can, NULLs
    the unparsable row's typed fields, and preserves the RAW LINE in
    the corrupt-record column — so bad rows are countable, auditable
    and quarantine-able instead of killing the job (FAILFAST) or
    vanishing silently (DROPMALFORMED; both are one option away, and
    the quarantine split itself is q_lake_write_quarantine's shape).
    The summary pins both populations: corrupt count and the exact
    cents sum over clean rows. Scale: the scan stays splittable —
    malformedness is decided per row inside each partition; nothing
    serializes."""
    import shutil

    path = scratch("csv_corrupt", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    o = t(spark, sf_dir, "orders")
    line = F.concat_ws(
        ",",
        F.col("o_orderkey").cast("string"),
        F.when(
            F.col("o_orderkey") % 7 == 0,
            F.concat(
                F.lit("X"),
                cents("o_totalprice")
                .cast("string"),
            ),
        ).otherwise(
            cents("o_totalprice")
            .cast("string")
        ),
        F.col("o_orderpriority"),
    )
    o.select(line.alias("value")).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema(
            "o_orderkey BIGINT, cents BIGINT, prio STRING, "
            "_corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return parsed.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("cents")))
        .cast("bigint")
        .alias("good_cents"),
        F.countDistinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("prio"))
        )
        .cast("bigint")
        .alias("n_good_prios"),
    )


@register(
    "q_sink_dynamic_overwrite",
    oracle="""
    WITH src AS (
        SELECT o_orderkey, o_orderpriority AS prio,
               CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
        FROM orders
    ),
    final AS (
        SELECT * FROM src
        WHERE prio NOT IN ('1-URGENT', '2-HIGH') AND o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, prio, cents + 1 FROM src
        WHERE prio IN ('1-URGENT', '2-HIGH')
    )
    SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS cents
    FROM final GROUP BY prio ORDER BY prio
    """,
    tags=("A6",),
)
def q_sink_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition overwrite (`partitionOverwriteMode=dynamic`) —
    the idempotent daily-reload primitive: the second write's mode is
    `overwrite`, but only the partitions PRESENT in the incoming frame
    are replaced; every untouched partition survives byte-for-byte
    (STATIC mode — the default — would truncate the whole table
    first, the classic full-reload footgun this conf exists to fix).
    Staged here: an initial load of even keys across all five
    priority partitions, then a corrected full reload of just the two
    urgent partitions (cents+1 marks the new generation). The final
    census must show untouched partitions with the v1 rows and
    replaced partitions with ONLY v2 rows. At 100 TB this is how
    late-arriving upstream corrections republish day partitions
    without rewriting the year. The conf is set around the one write
    and restored exactly (unset if previously unset — the
    q_sql_scripting convention)."""
    import shutil

    path = scratch("dyn_overwrite", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        cents("o_totalprice").alias("cents"),
    )
    src.filter(F.col("o_orderkey") % 2 == 0).write.partitionBy(
        "prio"
    ).mode("overwrite").parquet(path)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        src.filter(F.col("prio").isin("1-URGENT", "2-HIGH")).withColumn(
            "cents", F.col("cents") + 1
        ).write.partitionBy("prio").mode("overwrite").parquet(path)
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
        else:
            spark.conf.unset(key)
    return (
        spark.read.parquet(path)
        .groupBy("prio")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
    )


@register(
    "q_scan_file_metadata",
    oracle="""
    SELECT o_orderpriority AS prio,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_files
    FROM orders GROUP BY o_orderpriority ORDER BY prio
    """,
    tags=("A1", "A6"),
)
def q_scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIDDEN FILE-METADATA COLUMNS (`_metadata.file_path` /
    `file_name` / `row_index` — Spark's scan-time lineage struct): the
    per-file audit every ingestion pipeline runs — which physical
    files feed each partition, with how many rows. Staged: orders
    written partitioned by priority (repartitioned to one file per
    partition so the file census is deterministic — physical file
    NAMES are UUIDs, so the query must derive the partition from
    `_metadata.file_path` with a regex, exactly how a production
    audit attributes rows to files), then read back and grouped by
    the EXTRACTED partition value: row count + distinct-file count.
    The oracle recomputes the census from the source table with the
    known 1-file-per-partition invariant. `_metadata` is evaluated at
    the scan (no extra pass, no shuffle); the audit aggregate is the
    only exchange, carrying one row per (partition, file)."""
    import shutil

    path = scratch("scan_meta", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    src = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("prio")
    )
    src.repartition("prio").write.partitionBy("prio").mode(
        "overwrite"
    ).parquet(path)
    back = spark.read.parquet(path).select(
        F.regexp_extract(
            F.col("_metadata.file_path"), r"prio=([^/]+)/", 1
        ).alias("prio_raw"),
        F.col("_metadata.file_name").alias("fname"),
    )
    return (
        back.select(
            F.url_decode("prio_raw").alias("prio"), "fname"
        )
        .groupBy("prio")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct("fname").cast("bigint").alias("n_files"),
        )
    )


@register(
    "q_scan_text",
    oracle="""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(length(REPLACE(text, chr(10), ' '))) AS BIGINT)
             AS chars,
           CAST(SUM(CASE WHEN REPLACE(text, chr(10), ' ')
                         LIKE '%data%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_data
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("A2", "A7"),
)
def q_scan_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXT-format sink + scan round-trip (`spark.read.text` — the
    rawest source Spark has: one line, one row, one string column;
    the on-ramp for every crawl dump, log file and line-delimited
    corpus BEFORE a schema exists). Documents are flattened to one
    line each as `lang\\tTEXT` (embedded newlines folded to spaces —
    a text sink has no escaping, the format's defining limitation,
    stated), written via the text writer, read back as raw `value`
    lines and re-split — the oracle recomputes the aggregate from the
    parquet origin through the SAME newline fold, so any loss or
    mangling in the round-trip fails the hash. The split uses
    substring arithmetic on the FIRST tab only (document text may
    contain tabs; split-by-tab would truncate it — the classic
    delimited-text trap, dodged and stated).

    Plan at 100 TB: the text source is line-splittable exactly like
    CSV — full parallel scan; map-side-combined 5-row groupBy; one
    narrow projection (instr/substring) per row."""
    path = scratch("docs_text", sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        F.concat_ws(
            "\t",
            F.col("lang"),
            F.regexp_replace("text", "\n", " "),
        ).alias("value")
    )
    docs.write.mode("overwrite").text(path)
    back = spark.read.text(path)
    parsed = back.select(
        F.expr("substring(value, 1, instr(value, '\t') - 1)").alias("lang"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.length("text")).cast("bigint").alias("chars"),
            F.sum(
                F.when(F.col("text").contains("data"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_data"),
        )
    )
