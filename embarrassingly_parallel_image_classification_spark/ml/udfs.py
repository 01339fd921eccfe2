"""J2–J8: the Python UDF surface (SURVEY.md §2-J).

The reference's entire pipeline is Python functions over rows [PK];
in this engine Python appears ONLY behind Arrow-vectorized boundaries:

* scalar pandas UDF (J2)         — Series→Series, Arrow batches;
* grouped-map applyInPandas (J4) — per-group pandas frame;
* grouped-agg pandas UDF (J5)    — Series→scalar per group;
* UDTF (J7)                      — one row in, many rows out;
* classic row UDF (J8)           — registered for completeness and to
  document WHY it's the slow path (pickled row-at-a-time); never used
  elsewhere in the library.

Each one computes something SQL-expressible on purpose, so the DuckDB
oracle checks the Arrow/pickle boundary itself — a serialization or
batching bug would corrupt values and fail the hash.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa  # module-level: arrow_udf resolves string type hints
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..registry import register
from ..sources.tables import cents, t


@register(
    "q_udf_scalar",
    oracle="""
    SELECT event_id, ROUND(value * 2.0 + 1.0, 6) AS scaled
    FROM events
    """,
    tags=("J2",),
)
def q_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF (Series→Series): affine transform of the score
    column — the reference's per-image normalization step [PK]."""

    @pandas_udf("double")
    def scale(v: pd.Series) -> pd.Series:
        return v * 2.0 + 1.0

    ev = t(spark, sf_dir, "events")
    return ev.select("event_id", F.round(scale("value"), 6).alias("scaled"))


@register(
    "q_udf_grouped_map",
    oracle="""
    SELECT doc_id, lang,
           ROUND(COALESCE((n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                 / NULLIF(STDDEV_SAMP(n_chars) OVER (PARTITION BY lang), 0), 0), 6) AS z
    FROM documents
    """,
    tags=("J4",),
)
def q_udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-language z-score of doc length —
    per-class normalization [PK] where the whole group is one pandas
    frame (ddof=1 matches STDDEV_SAMP)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["n_chars"].std(ddof=1)
        mu = pdf["n_chars"].mean()
        z = (pdf["n_chars"] - mu) / sd if sd and sd > 0 else pd.Series(0.0, index=pdf.index)
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z": z.fillna(0.0).round(6)}
        )

    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").applyInPandas(zscore, "doc_id BIGINT, lang STRING, z DOUBLE")


@register(
    "q_udf_grouped_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(SUM(l_extendedprice * l_quantity) / SUM(l_quantity), 6) AS weighted_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("J5",),
)
def q_udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF: quantity-weighted mean price per flag
    (the custom per-class metric of the reference's evaluation [PK])."""

    @pandas_udf("double")
    def wavg(price: pd.Series, qty: pd.Series) -> float:
        return float((price * qty).sum() / qty.sum())

    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(wavg("l_extendedprice", "l_quantity"), 6).alias("weighted_price")
    )


@register(
    "q_udtf_explode",
    oracle="""
    SELECT vec_id, pos, val FROM (
        SELECT vec_id, pos, val,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY val DESC, pos) AS rn
        FROM (
            SELECT vec_id,
                   UNNEST(range(1, len(embedding) + 1)) AS pos,
                   UNNEST(list_transform(CAST(embedding AS DOUBLE[]), x -> ROUND(x, 6))) AS val
            FROM embeddings
        )
    ) WHERE rn <= 3
    """,
    tags=("J7",),
)
def q_udtf_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: one embedding row → its top-3 (position, value)
    component rows — the model-output→(class, prob) expansion [PK]."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="vec_id BIGINT, pos INT, val DOUBLE")
    class TopComponents:
        def eval(self, vec_id: int, embedding):
            comps = sorted(
                ((round(float(v), 6), i + 1) for i, v in enumerate(embedding)),
                key=lambda t: (-t[0], t[1]),
            )
            for val, pos in comps[:3]:
                yield vec_id, pos, val

    spark.udtf.register("top_components", TopComponents)
    t(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings_udtf_in")
    return spark.sql(
        "SELECT f.* FROM embeddings_udtf_in, LATERAL top_components(vec_id, embedding) f"
    )


@register(
    "q_udf_classic",
    oracle="""
    SELECT c_custkey, CONCAT(UPPER(c_mktsegment), ':', CAST(LENGTH(c_name) AS VARCHAR)) AS tag
    FROM customer
    """,
    tags=("J8",),
)
def q_udf_classic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic row-at-a-time Python UDF — registered to cover the API,
    deliberately trivial: every other operator uses Arrow-vectorized
    paths because this one pickles per row (~10–100× slower)."""
    tag = F.udf(lambda seg, name: f"{seg.upper()}:{len(name)}", "string")
    c = t(spark, sf_dir, "customer")
    return c.select("c_custkey", tag("c_mktsegment", "c_name").alias("tag"))


@register(
    "q_udf_map_arrow",
    oracle="""
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           STRLEN(text) AS n_bytes,
           CAST(LENGTH(regexp_extract_all(text, '\\w+')) AS BIGINT) AS n_tokens
    FROM documents
    """,
    tags=("J6",),
)
def q_udf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow whole-partition transform: the zero-copy sibling of
    mapInPandas — batches arrive as pyarrow RecordBatches and every op
    below is a vectorized Arrow compute kernel (C++, no pandas
    materialization, no Python loop). Token counting matches the DuckDB
    oracle exactly because both sides run RE2 `\\w+` semantics (pyarrow
    count_substring_regex vs duckdb regexp_extract_all). The shape to
    reach for when a Python hot path is unavoidable but the data is
    columnar end-to-end — at 100 TB the batch never leaves Arrow."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.count_substring_regex(text, r"\w+"), pa.int64()),
                ],
                names=["doc_id", "n_chars", "n_bytes", "n_tokens"],
            )

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        stats, "doc_id bigint, n_chars bigint, n_bytes bigint, n_tokens bigint"
    )


@register(
    "q_udf_arrow_native",
    oracle="""
    SELECT event_id,
           CAST(LENGTH(event_type) AS BIGINT) * 1000 + (event_id % 1000)
               AS tagged
    FROM events
    """,
    tags=("J2", "J6"),
)
def q_udf_arrow_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-NATIVE scalar UDF (Spark 4.1 ``arrow_udf``): the batch
    arrives as a ``pyarrow.Array`` and the result returns as one — no
    pandas materialization at all, removing the Arrow→pandas→Arrow
    round-trip a @pandas_udf pays (object boxing for strings, index
    allocation). The computation is deliberately integer/string-exact
    so the oracle hash checks the pyarrow compute path itself."""
    import pyarrow.compute as pc
    from pyspark.sql.functions import arrow_udf

    @arrow_udf("bigint")
    def tag(etype: pa.Array, eid: pa.Array) -> pa.Array:
        ln = pc.cast(pc.utf8_length(etype), pa.int64())
        k = pa.scalar(1000, pa.int64())
        # eid % 1000 spelled as eid - (eid // 1000) * 1000: pyarrow.compute
        # has no mod kernel; integer divide truncates (ids are ≥ 0).
        rem = pc.subtract(eid, pc.multiply(pc.divide(eid, k), k))
        return pc.add(pc.multiply(ln, k), rem)

    ev = t(spark, sf_dir, "events")
    return ev.select("event_id", tag("event_type", "event_id").alias("tagged"))


@register(
    "q_udtf_table_arg",
    oracle="""
    WITH x AS (
        SELECT event_type, ts, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
        FROM events
    ),
    b AS (
        SELECT event_type, ts, event_id,
               CASE WHEN cents > lag(cents) OVER
                        (PARTITION BY event_type ORDER BY ts, event_id)
                    THEN 0 ELSE 1 END AS brk
        FROM x
    ),
    g AS (
        SELECT event_type,
               SUM(brk) OVER (PARTITION BY event_type ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM b
    ),
    runs AS (
        SELECT event_type, grp, COUNT(*) AS run_len
        FROM g GROUP BY event_type, grp
    )
    SELECT event_type, CAST(MAX(run_len) AS BIGINT) AS longest_run
    FROM runs GROUP BY event_type
    """,
    tags=("J7", "composite"),
)
def q_udtf_table_arg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF with a TABLE argument (the Spark 4 TVF
    surface beyond q_udtf_explode's scalar-lateral form): the engine
    partitions the input by event_type and ORDERS each partition by
    (ts, event_id) BEFORE feeding rows to a per-partition UDTF
    instance, whose terminate() emits one summary row — here the
    longest strictly-increasing price run, the sequential-state
    computation (one pass, O(1) state) that showcases why ordered
    TABLE input exists. The oracle is the gaps-and-islands SQL
    spelling of the same statistic, so the engine's partition/order
    delivery contract itself is what gets verified. Scale: one
    shuffle on event_type (the PARTITION BY), Python touched once per
    row with constant state — the UDTF analog of
    applyInPandasWithState's batch twin."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="event_type STRING, longest_run BIGINT")
    class LongestRun:
        def __init__(self):
            self.best = 0
            self.cur = 0
            self.prev = None
            self.key = None

        def eval(self, row):
            c = row["cents"]
            self.key = row["event_type"]
            if self.prev is not None and c > self.prev:
                self.cur += 1
            else:
                self.cur = 1
            self.best = max(self.best, self.cur)
            self.prev = c

        def terminate(self):
            if self.key is not None:
                yield self.key, self.best

    spark.udtf.register("longest_run_udtf", LongestRun)
    t(spark, sf_dir, "events").select(
        "event_type",
        "ts",
        "event_id",
        cents("value").alias("cents"),
    ).createOrReplaceTempView("events_runs_in")
    return spark.sql(
        "SELECT f.* FROM longest_run_udtf("
        "TABLE(SELECT * FROM events_runs_in) "
        "PARTITION BY event_type ORDER BY (ts, event_id)) f"
    )


@register(
    "q_udtf_dynamic_schema",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS tok0,
           string_split(text, ' ')[2] AS tok1,
           string_split(text, ' ')[3] AS tok2,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
    """,
    tags=("J7", "K4"),
)
def q_udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF with a STATIC ``analyze()`` — the
    Spark 4 surface where the OUTPUT SCHEMA is computed from the
    call's literal arguments at plan time (spark:pyspark/sql/udtf.py
    AnalyzeArgument/AnalyzeResult): ``lead_tokens(text, n)`` returns n
    typed token columns tok0..tok{n-1} plus a count — called with
    n=3 here, so the analyzer derives (tok0, tok1, tok2, n_tokens)
    without any registration-time schema string. This is the schema-
    on-call capability DESCRIBE/compiler tooling needs (a fixed-schema
    UDTF per arity would explode combinatorially). The oracle is the
    equivalent split_part projection. Evaluation is one lateral pass —
    embarrassingly parallel, no shuffle."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class LeadTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, n: AnalyzeArgument) -> AnalyzeResult:
            assert n.value is not None, "n must be a literal"
            fields = [
                StructField(f"tok{i}", StringType()) for i in range(int(n.value))
            ]
            fields.append(StructField("n_tokens", LongType()))
            return AnalyzeResult(schema=StructType(fields))

        def eval(self, text: str, n: int):
            toks = (text or "").split(" ")
            head = [toks[i] if i < len(toks) else None for i in range(n)]
            yield (*head, len(toks))

    fn = udtf(LeadTokens)
    spark.udtf.register("epic_lead_tokens", fn)
    d = t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("epic_docs_for_udtf")
    return spark.sql(
        "SELECT d.doc_id, f.tok0, f.tok1, f.tok2, f.n_tokens "
        "FROM epic_docs_for_udtf d, "
        "LATERAL epic_lead_tokens(d.text, 3) f"
    )


@register(
    "q_udf_window_agg",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS roll3_cents
    FROM events
    WHERE user_id % 101 = 0
    """,
    tags=("J5", "E3"),
)
def q_udf_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF over a WINDOW frame — the J-family surface distinct
    from groupBy().agg(UDAF): Spark evaluates the grouped-agg pandas
    UDF once per row over its bounded ROWS frame, shipping each frame
    to Python as a pandas Series. The rolling 3-event spend is
    int64-exact in pandas (cents sum, no float path), so the DuckDB
    window-SUM oracle hash-matches the Python kernel bit for bit —
    an oracle-pinned custom rolling metric (in production this kernel
    would be a rolling robust statistic SQL can't express; SUM keeps
    it exactly checkable). Frame must be BOUNDED (Spark requirement
    for window pandas UDAFs); per-row frame shipping is why built-in
    window functions stay the default and this is the escape hatch."""

    @pandas_udf("long")
    def roll_sum(cents: pd.Series) -> int:
        return int(cents.sum())

    ev = (
        t(spark, sf_dir, "events")
        .filter(F.col("user_id") % 101 == 0)
        .select(
            "event_id",
            "user_id",
            "ts",
            cents("value").alias("cents"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id", roll_sum("cents").over(w).alias("roll3_cents")
    )


@register(
    "q_udf_cogroup",
    oracle="""
    WITH cust AS (
        SELECT c_nationkey AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT))
                    AS BIGINT) AS cust_cents
        FROM customer GROUP BY c_nationkey),
    supp AS (
        SELECT s_nationkey AS nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_supp,
               CAST(SUM(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT))
                    AS BIGINT) AS supp_cents
        FROM supplier GROUP BY s_nationkey)
    SELECT CAST(COALESCE(cust.nationkey, supp.nationkey) AS BIGINT)
               AS nationkey,
           COALESCE(n_cust, 0) AS n_cust,
           COALESCE(n_supp, 0) AS n_supp,
           COALESCE(cust_cents, 0) AS cust_cents,
           COALESCE(supp_cents, 0) AS supp_cents
    FROM cust FULL OUTER JOIN supp USING (nationkey)
    """,
    tags=("J4", "J6"),
)
def q_udf_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map applyInPandas — the LAST Python-boundary API the
    J-family was missing (spark:python/pyspark/sql/pandas/group_ops.py
    cogroup().applyInPandas): BOTH groups for one key arrive as two
    pandas frames in one call, the shape for per-key reconciliation of
    two datasets that a join would force into wide rows first (train
    vs serve features, ledger vs statement, …). Here: per-nation
    customer-vs-supplier balance census in exact cents, so the DuckDB
    oracle (two aggregates FULL OUTER joined) checks the cogroup
    boundary bit-for-bit, including the one-sided-group path (a key
    present in only one input must still emit, with zeros).

    Scale: cogroup shuffles each side ONCE on the key (same exchange
    shape as a shuffle join) and streams both Arrow batches to the
    worker per key — no wide joined row ever materializes. Python does
    integer sums only."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        cents("c_acctbal").alias("cents"),
    )
    supp = t(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").cast("bigint").alias("nationkey"),
        cents("s_acctbal").alias("cents"),
    )

    def census(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "nationkey": int(key[0]),
                    "n_cust": len(cpdf),
                    "n_supp": len(spdf),
                    "cust_cents": int(cpdf["cents"].sum()) if len(cpdf) else 0,
                    "supp_cents": int(spdf["cents"].sum()) if len(spdf) else 0,
                }
            ]
        )

    return (
        cust.groupBy("nationkey")
        .cogroup(supp.groupBy("nationkey"))
        .applyInPandas(
            census,
            "nationkey BIGINT, n_cust BIGINT, n_supp BIGINT,"
            " cust_cents BIGINT, supp_cents BIGINT",
        )
    )


@register(
    "q_udf_grouped_arrow",
    oracle="""
    SELECT c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS acct_cents,
           CAST(MIN(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS min_cents,
           CAST(MAX(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
               AS max_cents
    FROM customer GROUP BY c_mktsegment
    """,
    tags=("J4", "J6"),
)
def q_udf_grouped_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInArrow`` (Spark 4.1,
    spark:python/pyspark/sql/pandas/group_ops.py ``applyInArrow``): the
    whole group arrives as ONE ``pyarrow.Table`` — no pandas frame is
    ever built, so string columns stay in Arrow buffers instead of
    being boxed into Python objects (the cost q_udf_grouped_map pays).
    Per-market-segment account census in exact cents via
    ``pyarrow.compute`` kernels only; the DuckDB GROUP BY oracle checks
    the Arrow grouped-map boundary bit-for-bit.

    Cents are fixed Spark-side (``F.round`` half-up matches the oracle;
    pyarrow's round is half-to-even, so money never rounds in Arrow).
    Scale: one hash exchange on the key, same as any groupBy — with the
    grouped-map caveat that a group must fit one worker's memory, so
    the key is a bounded domain (5 segments); unbounded-group shapes
    belong to mapInArrow (J6) or plain aggregates."""
    import pyarrow.compute as pc

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"),
        cents("c_acctbal").alias("cents"),
    )

    def census(table: pa.Table) -> pa.Table:
        cents = table.column("cents")
        return pa.table(
            {
                "segment": pa.array([table.column("segment")[0].as_py()], pa.string()),
                "n_cust": pa.array([table.num_rows], pa.int64()),
                "acct_cents": pa.array([pc.sum(cents).as_py()], pa.int64()),
                "min_cents": pa.array([pc.min(cents).as_py()], pa.int64()),
                "max_cents": pa.array([pc.max(cents).as_py()], pa.int64()),
            }
        )

    return cust.groupBy("segment").applyInArrow(
        census,
        "segment STRING, n_cust BIGINT, acct_cents BIGINT,"
        " min_cents BIGINT, max_cents BIGINT",
    )


@register(
    "q_udf_cogroup_arrow",
    oracle="""
    WITH ord AS (
        SELECT o_orderstatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS order_cents
        FROM orders GROUP BY o_orderstatus),
    li AS (
        SELECT l_linestatus AS status,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_units
        FROM lineitem GROUP BY l_linestatus)
    SELECT status,
           COALESCE(n_orders, 0) AS n_orders,
           COALESCE(n_lines, 0) AS n_lines,
           COALESCE(order_cents, 0) AS order_cents,
           COALESCE(qty_units, 0) AS qty_units
    FROM ord FULL OUTER JOIN li USING (status)
    """,
    tags=("J4", "J6"),
)
def q_udf_cogroup_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map ``applyInArrow`` — the last empty cell in the
    J-family API matrix (grouped/cogrouped × pandas/Arrow): both sides
    of one key arrive as two ``pyarrow.Table``s in a single call, with
    zero pandas materialization. Order-header vs line-item status
    reconciliation; status 'P' exists ONLY on the orders side, so the
    FULL-OUTER-twin oracle (same pattern as q_udf_cogroup) proves the
    one-sided-group path emits with zeros — an empty Arrow table still
    carries its schema, which is exactly what this pins.

    Scale: each side shuffles once on its own status key (no joined
    wide row); Python touches only pre-fixed BIGINTs."""
    import pyarrow.compute as pc

    ords = t(spark, sf_dir, "orders").select(
        F.col("o_orderstatus").alias("status"),
        cents("o_totalprice").alias("cents"),
    )
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("status"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )

    def reconcile(key, otab: pa.Table, ltab: pa.Table) -> pa.Table:
        def s(tab: pa.Table, col: str) -> int:
            v = pc.sum(tab.column(col)).as_py() if tab.num_rows else None
            return v if v is not None else 0

        return pa.table(
            {
                "status": pa.array([key[0].as_py()], pa.string()),
                "n_orders": pa.array([otab.num_rows], pa.int64()),
                "n_lines": pa.array([ltab.num_rows], pa.int64()),
                "order_cents": pa.array([s(otab, "cents")], pa.int64()),
                "qty_units": pa.array([s(ltab, "qty")], pa.int64()),
            }
        )

    return (
        ords.groupBy("status")
        .cogroup(li.groupBy("status"))
        .applyInArrow(
            reconcile,
            "status STRING, n_orders BIGINT, n_lines BIGINT,"
            " order_cents BIGINT, qty_units BIGINT",
        )
    )
