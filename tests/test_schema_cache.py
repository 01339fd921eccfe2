"""The fixture schema cache (sources/tables.py) and the centroid memo
(ml/inference.py): neither may serve stale data, and a warm fixture
load launches no Spark job. Plus the source lint that keeps every
fixture read behind the cache."""

from __future__ import annotations

import os
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from embarrassingly_parallel_image_classification_spark.ml.inference import fit_centroids
from embarrassingly_parallel_image_classification_spark.sources.tables import (
    load_table,
    parquet_schema,
)

PKG = Path(__file__).resolve().parent.parent / "embarrassingly_parallel_image_classification_spark"


def _jobs_in_fresh_group(spark, fn, group):
    """Run fn() under a fresh job group; return the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_rewritten_fixture_file_is_reinferred(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": pa.array([0, 1], pa.int32())}), path)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey"]
    pq.write_table(
        pa.table({"r_regionkey": pa.array([0, 1], pa.int32()), "r_name": ["A", "B"]}), path
    )
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(df.collect()) == [(0, "A"), (1, "B")]


@pytest.mark.parametrize(
    "conf, flipped",
    [("spark.sql.parquet.binaryAsString", "true"), ("spark.sql.legacy.parquet.nanosAsLong", "false")],
)
def test_schema_conf_flip_misses_the_cache(spark, tmp_path, conf, flipped):
    """binaryAsString retypes the column, so a stale entry would show;
    nanosAsLong does not touch a binary column, so a miss shows as the
    inference job running again."""
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table({"blob": pa.array([b"x"], pa.binary())}), path)
    before = parquet_schema(spark, path)
    prev = spark.conf.get(conf)
    spark.conf.set(conf, flipped)
    try:
        jobs = _jobs_in_fresh_group(spark, lambda: parquet_schema(spark, path), f"flip-{conf}")
        after = parquet_schema(spark, path)
    finally:
        spark.conf.set(conf, prev)
    assert jobs, "a flipped inference conf must miss the cache"
    if conf == "spark.sql.parquet.binaryAsString":
        assert before["blob"].dataType.simpleString() == "binary"
        assert after["blob"].dataType.simpleString() == "string"
    # the old entry is still there under the restored conf
    assert parquet_schema(spark, path) == before


def test_warm_load_launches_no_job(spark, tmp_path):
    pq.write_table(pa.table({"n_nationkey": pa.array([0, 1], pa.int32())}), tmp_path / "nation.parquet")
    sf_dir = str(tmp_path)
    cold = _jobs_in_fresh_group(spark, lambda: load_table(spark, sf_dir, "nation"), "schema-cold")
    warm = _jobs_in_fresh_group(spark, lambda: load_table(spark, sf_dir, "nation"), "schema-warm")
    assert cold, "the first load infers the schema with a job"
    assert warm == [], f"a warm load launched jobs {warm}"


def _write_embeddings(path, centre: float, rows: int) -> None:
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(rows), pa.int64()),
                "embedding": pa.array([[centre, -centre]] * rows, pa.list_(pa.float32())),
                "label": pa.array([0] * rows, pa.int32()),
            }
        ),
        path,
    )


def test_rewritten_embeddings_are_refit(spark, tmp_path):
    path = str(tmp_path / "embeddings.parquet")
    _write_embeddings(path, 1.0, 4)
    cents, _ = fit_centroids(spark.read.parquet(path))
    np.testing.assert_allclose(cents, [[1.0, -1.0]])
    _write_embeddings(path, 3.0, 6)
    cents, _ = fit_centroids(spark.read.parquet(path))
    np.testing.assert_allclose(cents, [[3.0, -3.0]])


# spark.read[.option(..)/.schema(..)...].parquet(f"{sf_dir}/...")
_FIXTURE_READ = re.compile(
    r"\.read\s*(?:\.\s*\w+\s*\([^()]*\)\s*)*\.\s*parquet\(\s*f[\"']\{sf_dir\}/"
)


def test_fixture_files_are_read_only_through_tables_py():
    """A fixture read outside sources/tables.py would bypass the schema
    cache and launch an inference job per call."""
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            path = Path(root) / name
            if name.endswith(".py") and path != PKG / "sources" / "tables.py":
                text = path.read_text()
                for m in _FIXTURE_READ.finditer(text):
                    line = text.count("\n", 0, m.start()) + 1
                    offenders.append(f"{path.relative_to(PKG)}:{line}")
    assert not offenders, f"read fixture files through sources.tables: {offenders}"
