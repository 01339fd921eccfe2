"""Focused tests for localframe.local_df (r12: SQL-string renderer).

local_df's fast path renders the whole literal relation as ONE SQL
expression string (a single py4j round trip) instead of ~3 py4j calls
per cell — these tests pin value-exactness vs createDataFrame across
the type matrix the engine's 24 call sites use (strings incl. quote /
backslash, ints, doubles incl. NaN / ±Infinity / None, booleans, flat
arrays, numpy scalars), plus row order and the >1024-row fallback.
"""

from __future__ import annotations

import math

import numpy as np
import pytest


ROWS = [
    ("a'b\\c''", 1, 1.5, True, [1.0, 2.5], None),
    (None, -7, float("nan"), False, [], 3),
    ("x y\tz", 2**62, float("inf"), None, None, -4),
    ("", 0, float("-inf"), True, [0.1], 0),
    ("unicode-é中", -(2**62), -0.0, False, [1e308, 5e-324], 2),
]
SCHEMA = "s STRING, i BIGINT, d DOUBLE, b BOOLEAN, a ARRAY<DOUBLE>, j INT"


def _eq(v1, v2) -> bool:
    if isinstance(v1, float) and isinstance(v2, float):
        if math.isnan(v1) and math.isnan(v2):
            return True
        # bit-exact, incl. signed zero and subnormals
        import struct

        return struct.pack("d", v1) == struct.pack("d", v2)
    if isinstance(v1, list) and isinstance(v2, list):
        return len(v1) == len(v2) and all(_eq(a, b) for a, b in zip(v1, v2))
    return v1 == v2


def test_local_df_matches_createdataframe(spark):
    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    got = local_df(spark, ROWS, SCHEMA).collect()
    want = spark.createDataFrame(ROWS, SCHEMA).collect()
    assert len(got) == len(want)
    for r1, r2 in zip(got, want):  # zip: row ORDER must match too
        for v1, v2 in zip(r1, r2):
            assert _eq(v1, v2), (v1, v2)


def test_local_df_types_match(spark):
    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    got = local_df(spark, ROWS, SCHEMA).schema
    want = spark.createDataFrame(ROWS, SCHEMA).schema
    assert [f.name for f in got.fields] == [f.name for f in want.fields]
    assert [f.dataType for f in got.fields] == [
        f.dataType for f in want.fields
    ]  # nullability may be tighter on the literal path; types must be exact


def test_local_df_is_jvm_literal(spark):
    """The fast path must stay a LocalTableScan/Project over range —
    no Python-RDD scan (the whole point of the module)."""
    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    plan = local_df(spark, ROWS, SCHEMA)._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" not in plan


def test_local_df_numpy_scalars(spark):
    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    rows = [(np.int64(7), np.float64(2.5)), (np.int32(-1), np.float32(0.5))]
    got = local_df(spark, rows, "i BIGINT, d DOUBLE").collect()
    assert [(r.i, r.d) for r in got] == [(7, 2.5), (-1, 0.5)]


def test_local_df_large_falls_back_single_slice(spark):
    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    rows = [(i, i * 7) for i in range(1500)]  # > _INLINE_MAX
    df = local_df(spark, rows, "a BIGINT, b BIGINT")
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 1500
    head = df.limit(3).collect()
    assert [(r.a, r.b) for r in head] == [(0, 0), (1, 7), (2, 14)]


def test_local_df_empty(spark):
    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    df = local_df(spark, [], "a BIGINT, s STRING")
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["a", "s"]


def test_local_df_unrenderable_falls_back(spark):
    """A value type outside the renderer's matrix must still produce a
    correct frame via the Column fallback, not raise."""
    from datetime import date

    from embarrassingly_parallel_image_classification_spark.localframe import (
        local_df,
    )

    rows = [(date(2024, 1, 2), 1)]
    got = local_df(spark, rows, "d DATE, i BIGINT").collect()
    assert got[0].d == date(2024, 1, 2) and got[0].i == 1


_DESC = "spark.job.description"


def _group_jobs(sc, group: str, before: set, timeout_s: float = 10.0) -> list:
    """Jobs of `group` not in `before`, waiting for the asynchronous
    listener bus to register them in the status store."""
    import time

    deadline = time.monotonic() + timeout_s
    while True:
        jobs = [j for j in sc.statusTracker().getJobIdsForGroup(group) if j not in before]
        if jobs or time.monotonic() > deadline:
            return jobs
        time.sleep(0.1)


def test_pin_labels_its_job_inside_the_callers_group(spark):
    """pin's job keeps the caller's job group (per-query job counts stay
    whole), carries the description pin:<label>, and the caller's
    description is back afterwards."""
    from embarrassingly_parallel_image_classification_spark.localframe import pin

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    before = set(sc.statusTracker().getJobIdsForGroup("g"))
    sc.setJobGroup("g", "outer")
    try:
        pin(spark.range(10), "t")
        assert sc.getLocalProperty(_DESC) == "outer"
        jobs = _group_jobs(sc, "g", before)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty(_DESC, None)
    assert jobs
    assert {store.job(j).description().get() for j in jobs} == {"pin:t"}


def test_pin_keeps_rows_and_reads_an_rdd_scan(spark):
    from embarrassingly_parallel_image_classification_spark.localframe import pin

    df = pin(spark.range(10).selectExpr("id", "id * 3 AS x"), "rows")
    assert sorted((r.id, r.x) for r in df.collect()) == [(i, 3 * i) for i in range(10)]
    plan = df._jdf.queryExecution().sparkPlan()
    assert plan.getClass().getSimpleName() == "RDDScanExec", plan.toString()


def test_pin_restores_description_when_the_job_fails(spark):
    from pyspark.sql import functions as F

    from embarrassingly_parallel_image_classification_spark.localframe import pin

    sc = spark.sparkContext
    boom = spark.range(3).select(
        F.raise_error(F.concat(F.lit("boom "), F.col("id").cast("string")))
    )
    sc.setJobDescription("outer")
    try:
        with pytest.raises(Exception, match="boom"):
            pin(boom, "fails")
        assert sc.getLocalProperty(_DESC) == "outer"
    finally:
        sc.setLocalProperty(_DESC, None)
    with pytest.raises(Exception, match="boom"):
        pin(boom, "fails")
    assert sc.getLocalProperty(_DESC) is None
