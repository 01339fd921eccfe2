"""Driver-built and pinned DataFrames: ``local_df`` and ``pin``.

``spark.createDataFrame(rows, schema)`` on a Python list builds a
PYTHON-RDD-backed frame: the rows are pickled, parallelized over
``defaultParallelism`` slices (32 here — 29 of them EMPTY for a 3-row
list), and every slice pays a JVM→Python-worker round trip whenever the
frame materializes (broadcast build, collect, noop sink). Measured on
this box (round 12): a 3-row frame costs **0.32–0.45 s per
materialization** on the default path, 0.19 s pinned to one slice, and
**0.05 s as a pure-JVM literal relation** — and driver-built state
frames sit on the critical path of every selection round, trainer
iteration and broadcast build, so the engine pays this repeatedly per
query. On a real cluster the same per-slice task + Python-worker cost
exists; a literal relation is the right spelling at every scale.

``local_df`` builds the same frame as ``inline(array(struct(...)))``
over JVM literals: no Python worker, no pickling, and Catalyst folds it
to a ``LocalTableScan``. Values are typed by casting each literal to
the DDL schema's field type, which reproduces ``createDataFrame``'s
coercions for the primitive types used here (strings, integers,
floats, booleans, None, flat arrays). Row order is preserved.

Large lists (> ``_INLINE_MAX`` rows) fall back to a single-slice
pickled RDD: one Python round trip instead of ``defaultParallelism``,
and no risk of a megabyte-scale expression tree.

``pin`` is the one eager materialization in the engine; its docstring
holds the caching, cost and broadcast rules every pinned frame obeys.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType

_INLINE_MAX = 1024


class _Unrenderable(Exception):
    """Value type the SQL-string renderer doesn't cover — fall back to
    the (correct but py4j-heavy) Column path."""


def _sql_val(v, dt) -> str:
    """One value as a CAST(...) SQL literal of the field's exact type.

    Rendering the whole relation as ONE SQL string matters: the Column
    spelling costs ~3 py4j round trips per CELL (lit/cast/alias), which
    measured ~10 s of pure driver time for a 528x3 literal (the
    q_stats_sign_bh pascal table) — the string parses in the JVM in
    milliseconds. repr(float) round-trips IEEE doubles exactly in both
    Python and Java, so the literal bits match F.lit()'s."""
    if hasattr(v, "item") and not isinstance(v, (list, tuple, str, bytes)):
        v = v.item()  # numpy scalars
    ts = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {ts})"
    if isinstance(dt, ArrayType):
        if not isinstance(v, (list, tuple)):
            raise _Unrenderable(type(v))
        inner = ", ".join(_sql_val(x, dt.elementType) for x in v)
        return f"CAST(array({inner}) AS {ts})"
    if isinstance(v, bool):
        return f"CAST({'true' if v else 'false'} AS {ts})"
    if isinstance(v, int):
        return f"CAST({v} AS {ts})"
    if isinstance(v, float):
        if math.isnan(v):
            lit = "'NaN'"
        elif math.isinf(v):
            lit = "'Infinity'" if v > 0 else "'-Infinity'"
        elif v == 0.0 and math.copysign(1.0, v) < 0:
            # bare -0.0 parses as negate(literal 0.0) and folds to +0.0;
            # the string cast preserves the sign bit
            lit = "'-0.0'"
        else:
            lit = repr(v)
        return f"CAST({lit} AS {ts})"
    if isinstance(v, str):
        esc = v.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST('{esc}' AS {ts})"
    raise _Unrenderable(type(v))


def _parse_schema(spark: SparkSession, schema: str | StructType) -> StructType:
    if isinstance(schema, StructType):
        return schema
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


def local_df(
    spark: SparkSession, rows: list, schema: str | StructType
) -> DataFrame:
    """A small driver-built DataFrame as a JVM literal relation.

    Drop-in for ``spark.createDataFrame(rows, schema)`` when ``rows``
    is a plain Python list of tuples/values of primitive (or flat
    array-of-primitive) type. Preserves row order and the schema's
    types exactly.
    """
    st = _parse_schema(spark, schema)
    rows = list(rows)
    if not rows or len(rows) > _INLINE_MAX:
        # Empty: zero-row JVM relation with the right schema. Large:
        # one pickled slice (not defaultParallelism of them).
        if not rows:
            return spark.range(0, 0, 1, 1).select(
                *[
                    F.lit(None).cast(f.dataType).alias(f.name)
                    for f in st.fields
                ]
            )
        return spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), st
        )
    # Fast path: the entire relation as ONE SQL expression string —
    # a single py4j round trip + one JVM parse, vs ~3 py4j calls per
    # cell on the Column path (which measured ~10 s of driver time for
    # a 528-row table; see _sql_val).
    try:
        structs_sql = []
        for row in rows:
            if not isinstance(row, (tuple, list)):
                row = (row,)
            fields_sql = ", ".join(
                f"'{f.name}', {_sql_val(v, f.dataType)}"
                for v, f in zip(row, st.fields)
            )
            structs_sql.append(f"named_struct({fields_sql})")
        # numPartitions=1: the default range splits by
        # defaultParallelism, which would launch 31 empty tasks per
        # materialization.
        return spark.range(0, 1, 1, 1).select(
            F.expr(f"inline(array({', '.join(structs_sql)}))")
        )
    except _Unrenderable:
        pass
    structs = []
    for row in rows:
        if not isinstance(row, (tuple, list)):
            row = (row,)
        structs.append(
            F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(row, st.fields)
                ]
            )
        )
    return spark.range(0, 1, 1, 1).select(F.inline(F.array(*structs)))


_JOB_DESCRIPTION = "spark.job.description"


def pin(df: DataFrame, label: str) -> DataFrame:
    """Materialize ``df`` now and return a frame that reads the result.

    Every eager materialization in the engine goes through here; the
    job it launches carries the Spark job description ``pin:<label>``
    (the caller's description is restored afterwards, even when the
    job fails). The job group is left alone, so the pin's job still
    counts toward the query that launched it.

    Caching rule: ``localCheckpoint(eager=True)``, never ``persist`` or
    ``cache``. A persist inside a library function that returns a lazy
    DataFrame can never be unpersisted, so cache-manager entries pile up
    across calls (measured at a 6x slowdown in the dedup chains). The
    checkpoint's blocks belong to its RDD, and the ContextCleaner frees
    them once the plan is garbage collected.

    Cost rule: a pin is one sequential driver job (~0.1-0.3 s at fixture
    scale). It pays only when it removes expensive rederivation:
    tokenize / explode / signature folds / posexplode over the fact, a
    fact-wide shuffle, a multi-table join, or the re-execution of every
    prior round in an iteration chain. Pins that only deduplicate narrow
    columnar scans measured net-negative and are not taken.

    Broadcast corollary: the pinned frame is RDD-backed with no size
    statistics, so the planner assumes it is huge. A small side joined
    against a pin, or a small frame derived from one, needs an explicit
    ``F.broadcast`` or the join silently becomes sort-merge.
    """
    sc = df.sparkSession.sparkContext
    outer = sc.getLocalProperty(_JOB_DESCRIPTION)
    sc.setJobDescription(f"pin:{label}")
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(_JOB_DESCRIPTION, outer)
