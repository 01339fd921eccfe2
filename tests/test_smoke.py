"""M0 smoke: the flagship entry() runs end-to-end and inference matches a
single-process NumPy oracle (SURVEY.md §5.3)."""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE


def test_entry_returns_rows(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"label", "n", "n_correct", "class_accuracy"} <= cols


def test_inference_matches_numpy_oracle(spark):
    """Spark-scored predictions must EQUAL local single-process NumPy
    predictions on the same rows (deterministic model)."""
    from embarrassingly_parallel_image_classification_spark.ml.inference import (
        fit_centroids,
        nearest_centroid_predict,
        score_embeddings,
    )
    from embarrassingly_parallel_image_classification_spark.sources.tables import t

    emb = t(spark, SF_SMOKE, "embeddings")
    cents, labels = fit_centroids(emb)

    # Local oracle: load the same parquet with pyarrow, predict in-process.
    tbl = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    pdf = tbl.to_pandas().sort_values("vec_id").reset_index(drop=True)
    X = np.stack(pdf["embedding"].to_numpy())
    want = nearest_centroid_predict(X, cents, labels)

    got = (
        score_embeddings(spark, SF_SMOKE)
        .orderBy("vec_id")
        .toPandas()["pred"]
        .to_numpy()
    )
    assert (got == want).all()

    # Sanity: better than chance (10 classes => chance = 0.1). The synthetic
    # embeddings are mostly noise, so absolute accuracy is low; determinism
    # (the equality above) is the real contract.
    acc = (pdf["label"].to_numpy() == want).mean()
    assert acc > 0.15, f"nearest-centroid accuracy at/below chance: {acc}"


def test_predict_batch_udf_agrees_with_iterator_udf(spark):
    """The two J1 formulations (Iterator pandas UDF vs
    pyspark.ml predict_batch_udf) must produce identical predictions."""
    from embarrassingly_parallel_image_classification_spark.ml.inference import (
        score_embeddings,
        score_embeddings_pbu,
    )

    a = score_embeddings(spark, SF_SMOKE).orderBy("vec_id").toPandas()
    b = score_embeddings_pbu(spark, SF_SMOKE).orderBy("vec_id").toPandas()
    assert (a["pred"].to_numpy() == b["pred"].to_numpy()).all()


def test_registry_contract(spark):
    """Every oracle key has a query; names are well-formed."""
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(n.startswith("q_") for n in qs)


def test_registry_orders_oracle_before_rows_only():
    """A driver that verifies a PREFIX of queries() must spend every slot
    on an oracle-backed query before any rows-only one, so every
    rows-only query sorts after every oracle-backed one."""
    from embarrassingly_parallel_image_classification_spark import registry

    specs = registry.specs()
    names = list(specs)
    first_rows_only = min(
        i for i, n in enumerate(names) if specs[n].oracle is None
    )
    last_oracle = max(
        i for i, n in enumerate(names) if specs[n].oracle is not None
    )
    assert first_rows_only > last_oracle


def test_observation_metrics_match_independent_agg(spark):
    """q_observe_metrics' observed counters (collected during the main
    query's execution, no extra pass) must equal a separately-computed
    aggregation over the same filter."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from embarrassingly_parallel_image_classification_spark.sources.tables import t
    from tests.conftest import SF_T2

    li = t(spark, SF_T2, "lineitem").filter(F.col("l_quantity") >= 25)
    obs = Observation("audit_test")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(cents).alias("cents_seen"),
    )
    observed.groupBy("l_linestatus").count().collect()  # trigger execution
    expected = li.agg(
        F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c")
    ).collect()[0]
    assert obs.get["rows_seen"] == expected["n"]
    assert obs.get["cents_seen"] == expected["c"]


def test_twin_pairs_share_one_definition():
    """Batch queries and their streaming twins must draw thresholds,
    oracles and shared algebra from ONE module-level definition, so
    the documented batch/stream equivalence cannot silently drift
    (r7 verdict item 8 — the rule the Gopher constants already
    followed, asserted for every twin pair):

      * EWMA / TWAP: the twin pairs register the IDENTICAL oracle
        object (not an equal copy);
      * Gopher gate: the streaming module imports the ml.curation
        constants (no literal re-spelling);
      * reconcile: both spellings call the shared row_fingerprint60 /
        checksum_report helpers;
      * drift: both call ml.cleaning.drift_report — neither re-spells
        the dxr/tvd_e6 algebra inline."""
    import inspect

    from embarrassingly_parallel_image_classification_spark import registry
    from embarrassingly_parallel_image_classification_spark.ml import cleaning, curation
    from embarrassingly_parallel_image_classification_spark.operators import timeseries
    from embarrassingly_parallel_image_classification_spark.streaming import (
        queries as sq,
    )

    specs = registry.specs()
    # oracle-object identity for the EWMA/TWAP pairs
    assert specs["q_stream_ewma"].oracle is specs["q_timeseries_ewma"].oracle
    assert specs["q_stream_ewma"].oracle is timeseries.EWMA_ORACLE
    assert specs["q_stream_twap"].oracle is specs["q_timeseries_twap"].oracle
    assert specs["q_stream_twap"].oracle is timeseries.TWAP_ORACLE
    # Gopher constants: the streaming gate's oracle interpolates the
    # curation module's values; its source must not re-spell them
    gate_src = inspect.getsource(sq.q_stream_quality_gate)
    assert "BETWEEN 20 AND 90" not in gate_src, (
        "gopher word bounds re-spelled in twin"
    )
    assert sq.GOPHER_WORDS is curation.GOPHER_WORDS
    assert sq.GOPHER_MEANLEN_E1 is curation.GOPHER_MEANLEN_E1
    assert sq.GOPHER_MIN_STOP is curation.GOPHER_MIN_STOP
    # reconcile + drift: twins call the one shared helper, and the
    # algebra never appears inline in either body
    for fn in (sq.q_stream_reconcile,):
        src = inspect.getsource(fn)
        assert "row_fingerprint60" in src and "checksum_report" in src
    for fn, helper in (
        (sq.q_stream_drift, "drift_report"),
        (cleaning.q_quality_drift, "drift_report"),
    ):
        src = inspect.getsource(fn)
        assert helper in src, f"{fn.__name__} lost the shared {helper}"
        assert "DIV (rt * ct)" not in src, (
            f"{fn.__name__} re-spells the drift algebra inline"
        )
