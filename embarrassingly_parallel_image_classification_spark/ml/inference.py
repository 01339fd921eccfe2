"""J1–J3: distributed batch model inference (the reference's flagship).

The reference scores aerial-image tiles with a CNN by parallelizing file
paths and doing ``mapPartitions`` with one model load per partition
(SURVEY.md §3.1 [PK]). The Spark-native equivalent is an **Iterator
Arrow UDF** (``arrow_udf``): model state is initialized once per Python
worker, then applied to Arrow-delivered batches, each read as a
zero-copy ``(n, d)`` matrix (``embedding_matrix``) — the same
amortized-init, vectorized-forward-pass shape, without hand-managed
partitioning and without pandas on the hot path.

No pretrained DNN exists in this container (no network), so the model is
a deterministic **nearest-centroid classifier** fit on the fixture
``embeddings`` table. It preserves the computational shape that matters
for the engine: broadcast model parameters, batched matrix math in the
worker, argmax to a class id. Verified in tests against a single-process
NumPy oracle (SURVEY.md §5.3).

Scale notes (100 TB): fitting is a distributed aggregation (posexplode →
per-(label, dim) partial avg — two-phase HashAggregate, no collect of raw
data; only the 10×64 parameter matrix comes to the driver). Scoring is
zero-shuffle, embarrassingly parallel — identical to the reference's
structure but Arrow-vectorized. The model runs on each partition where
the scan lands it and nothing sorts its output: an output order is owed
only where a LIMIT or top-k cuts on it (registry.py), so q_infer_batch,
q_infer_batch_pbu, q_infer_eval and q_infer_ensemble have no Exchange
between the scan and the model.

Oracle fragments: ``_INFER_ORACLE`` is the flagship's whole oracle
(``q_stream_infer`` checks the same predictions), ``_QUANT_CTES_SQL``
the quantized inputs and code centroids (twin of ``_quant_centroids``)
that the quantized and uncertainty oracles share, and ``_CALIB_SQL``
the cent/label bins of the calibration and Brier oracles.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from urllib.parse import urlparse
from urllib.request import url2pathname

import numpy as np
import pandas as pd
import pyarrow as pa  # module-level: arrow_udf resolves the pa.Array hints here
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..localframe import pin
from ..registry import register
from ..sources.tables import cents, t

EMB_DIM = 64


_CENTROID_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def _file_version(uri: str) -> tuple[str, int, int]:
    """(uri, mtime in ns, size) of one local input file: a rewrite of
    the file changes the tuple."""
    st = os.stat(url2pathname(urlparse(uri).path))
    return uri, st.st_mtime_ns, st.st_size


def fit_centroids(emb: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """Per-label mean embedding (centroid matrix, label vector),
    computed distributed and memoized per (session, source files).

    posexplode(embedding) → groupBy(label, pos).avg(val) is a standard
    two-phase aggregation; only n_classes × dim tiny rows are collected.
    The memo key includes the application id (results are plain NumPy,
    but the fit job shouldn't rerun for every query in a driver pass)
    and each input file's name, mtime and size (distinct sf_dirs get
    distinct fits, and a rewritten file is refit, never served stale).
    """
    key = (
        emb.sparkSession.sparkContext.applicationId,
        tuple(_file_version(f) for f in sorted(emb.inputFiles())),
    )
    cached = _CENTROID_CACHE.get(key)
    if cached is not None:
        return cached
    rows = (
        emb.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("c"))
        .collect()
    )
    labels = sorted({r["label"] for r in rows})
    dim = max(r["pos"] for r in rows) + 1
    cents = np.zeros((len(labels), dim), dtype=np.float64)
    label_index = {lab: i for i, lab in enumerate(labels)}
    for r in rows:
        cents[label_index[r["label"]], r["pos"]] = r["c"]
    result = (cents, np.asarray(labels, dtype=np.int32))
    _CENTROID_CACHE[key] = result
    return result


def nearest_centroid_predict(X: np.ndarray, cents: np.ndarray, labels: np.ndarray) -> np.ndarray:
    """argmin_c ||x - c||² via the expanded form (no sqrt needed)."""
    # ||x||² is constant per row for the argmin — skip it.
    d = -2.0 * X @ cents.T + (cents * cents).sum(axis=1)
    return labels[np.argmin(d, axis=1)]


def embedding_matrix(batch: pa.Array) -> np.ndarray:
    """One Arrow batch of ``array<float>`` rows → its ``(n, EMB_DIM)``
    matrix, without a per-row Python object: the child values are
    already one contiguous buffer. ``flatten()`` (not ``.values``)
    honours the batch offset, so a sliced batch yields its own rows.
    Raises on a null row or a row whose length is not ``EMB_DIM`` — a
    bare reshape would accept ragged rows whose total happens to
    divide."""
    n = len(batch)
    if batch.null_count:
        raise ValueError(f"embedding batch has {batch.null_count} null row(s)")
    lengths = pc.list_value_length(batch)
    if n and pc.min_max(lengths).as_py() != {"min": EMB_DIM, "max": EMB_DIM}:
        raise ValueError(f"embedding rows must all have length {EMB_DIM}")
    return batch.flatten().to_numpy(zero_copy_only=False).reshape(n, EMB_DIM)


def make_predict_udf(cents: np.ndarray, labels: np.ndarray):
    """Iterator Arrow UDF: params captured once per worker, applied to
    every Arrow batch — the Spark-native 'one model load per partition'.
    Each batch reaches the kernel as a zero-copy matrix
    (``embedding_matrix``) and the predictions return as one Arrow array;
    no pandas on the way in or out."""
    from pyspark.sql.functions import arrow_udf

    @arrow_udf(IntegerType())
    def predict(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        # Worker-side one-time init happens here (model deserialize).
        C = np.ascontiguousarray(cents)
        L = labels
        for batch in batches:
            yield pa.array(nearest_centroid_predict(embedding_matrix(batch), C, L))

    return predict


def score_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings → (vec_id, label, pred): the distributed scoring job.

    Each partition is scored as it is scanned, in no particular order:
    no shuffle, and every row crosses into Python exactly once."""
    emb = t(spark, sf_dir, "embeddings")
    cents, labels = fit_centroids(emb)
    predict = make_predict_udf(cents, labels)
    return emb.select("vec_id", "label", predict("embedding").alias("pred"))


def score_embeddings_pbu(
    spark: SparkSession, sf_dir: str, *, batch_size: int = 1024
) -> DataFrame:
    """Same scoring job via ``pyspark.ml.functions.predict_batch_udf`` —
    Spark's first-class batch-inference API (lazy per-worker model init,
    tensor batching). Kept alongside the Iterator-UDF path to prove the
    two J1 formulations agree (tests/test_smoke.py); like
    ``score_embeddings`` it scores partitions as scanned, unordered."""
    from pyspark.ml.functions import predict_batch_udf

    emb = t(spark, sf_dir, "embeddings")
    cents, labels = fit_centroids(emb)

    def make_predict_fn():
        # Runs once per Python worker — the model "load".
        C = np.ascontiguousarray(cents)
        L = labels

        def predict(inputs: np.ndarray) -> np.ndarray:
            return nearest_centroid_predict(inputs, C, L)

        return predict

    predict = predict_batch_udf(
        make_predict_fn,
        return_type=IntegerType(),
        batch_size=batch_size,
        input_tensor_shapes=[[EMB_DIM]],
    )
    return emb.select("vec_id", "label", predict("embedding").alias("pred"))


# The whole model is SQL-expressible (fit = per-(label, dim) AVG;
# score = argmin of expanded squared distance -2x·c + ||c||², ties to
# the lowest label exactly as numpy argmin takes the first index), so
# the flagship inference is EXACTLY oracle-checked, not rows-only:
# predictions verified identical to DuckDB at sf0.01 AND sf0.1. The
# near-tie risk (float summation order flipping an argmin) is real in
# adversarial data but the class margins here are O(0.1) vs 1e-13
# perturbations — and the driver's check runs on this fixture.
_INFER_ORACLE = """
WITH expl AS (
    SELECT label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings),
cent AS (SELECT label AS clab, pos, AVG(val) AS c FROM expl GROUP BY label, pos),
c2 AS (SELECT clab, SUM(c*c) AS cc FROM cent GROUP BY clab),
vex AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings),
dist AS (
    SELECT v.vec_id, ANY_VALUE(v.label) AS label, c.clab,
           SUM(-2.0 * v.val * c.c) + ANY_VALUE(c2.cc) AS d
    FROM vex v JOIN cent c ON c.pos = v.pos
    JOIN c2 ON c2.clab = c.clab
    GROUP BY v.vec_id, c.clab),
ranked AS (SELECT vec_id, label, clab,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clab) AS rn
           FROM dist)
SELECT vec_id, label, CAST(clab AS INT) AS pred FROM ranked WHERE rn = 1
"""


@register("q_infer_batch_pbu", oracle=_INFER_ORACLE, tags=("J1",))
def q_infer_batch_pbu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch inference through predict_batch_udf (the MMLSpark
    CNTKModel-transformer analog [PK]); same oracle as q_infer_batch —
    the two J1 formulations must agree with each other AND with SQL."""
    return score_embeddings_pbu(spark, sf_dir)


@register("q_infer_batch", oracle=_INFER_ORACLE, tags=("J1",))
def q_infer_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch inference: one row per embedding with its predicted class
    (see _INFER_ORACLE — the flagship is exactly oracle-checked). Each
    partition is scored where the scan lands it: no shuffle, no sort."""
    return score_embeddings(spark, sf_dir)


@register(
    "q_infer_eval",
    oracle=f"""
    WITH preds AS ({_INFER_ORACLE})
    SELECT ROUND(AVG(CASE WHEN pred = label THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
           COUNT(*) AS n
    FROM preds
    """,
    tags=("J1", "D2"),
)
def q_infer_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation: overall accuracy of the model (reference §3.3
    analog). AVG over 0/1 indicators is an integer sum in double —
    order-independent, so the float average is exact cross-engine."""
    scored = score_embeddings(spark, sf_dir)
    return scored.agg(
        F.round(F.avg(F.when(F.col("pred") == F.col("label"), 1.0).otherwise(0.0)), 6).alias(
            "accuracy"
        ),
        F.count("*").alias("n"),
    )


@register(
    "q_change_detection",
    oracle="""
    WITH y96 AS (SELECT o_custkey, SUM(o_totalprice) AS total FROM orders
                 WHERE EXTRACT(year FROM o_orderdate) = 1996 GROUP BY o_custkey),
         y97 AS (SELECT o_custkey, SUM(o_totalprice) AS total FROM orders
                 WHERE EXTRACT(year FROM o_orderdate) = 1997 GROUP BY o_custkey)
    SELECT c.c_mktsegment,
           COUNT(*) AS newly_active,
           ROUND(SUM(y97.total), 4) AS new_revenue
    FROM customer c
    LEFT JOIN y96 ON c.c_custkey = y96.o_custkey
    JOIN y97 ON c.c_custkey = y97.o_custkey
    WHERE y96.o_custkey IS NULL
    GROUP BY c.c_mktsegment
    """,
    tags=("composite", "C3", "C6"),
)
def q_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's change-detection analysis (§3.3 [PK]): two
    year-stamped snapshots of the same schema, joined on entity id,
    filtered for state transitions (there: tile went non-Developed →
    Developed between 2010 and 2016; here: customer inactive in 1996 →
    active in 1997), aggregated per class.

    Scale: each snapshot is aggregated to one row per key BEFORE the
    join (aggregate-before-join), and the year predicate partition-
    prunes on a year-partitioned layout (A6)."""
    o = t(spark, sf_dir, "orders")
    y96 = (
        o.filter(F.year("o_orderdate") == 1996)
        .groupBy(F.col("o_custkey").alias("k96"))
        .agg(F.sum("o_totalprice").alias("t96"))
    )
    y97 = (
        o.filter(F.year("o_orderdate") == 1997)
        .groupBy(F.col("o_custkey").alias("k97"))
        .agg(F.sum("o_totalprice").alias("t97"))
    )
    c = t(spark, sf_dir, "customer")
    return (
        c.join(y96, c.c_custkey == F.col("k96"), "left")
        .join(y97, c.c_custkey == F.col("k97"), "inner")
        .filter(F.col("k96").isNull())
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("newly_active"),
            F.round(F.sum("t97"), 4).alias("new_revenue"),
        )
    )


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The M0 end-to-end query: score → join truth → confusion counts +
    per-class accuracy. Fuses the reference's scoring notebook and its
    evaluation notebook into one lazy plan."""
    scored = score_embeddings(spark, sf_dir)
    per_class = (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("pred") == F.col("label"), 1).otherwise(0)).alias("n_correct"),
        )
        .withColumn("class_accuracy", F.round(F.col("n_correct") / F.col("n"), 6))
    )
    confusion = scored.groupBy("label", "pred").agg(F.count("*").alias("n_pred"))
    top_confusion = (
        confusion.filter(F.col("label") != F.col("pred"))
        .groupBy("label")
        .agg(F.max("n_pred").alias("max_confused_n"))
    )
    return (
        per_class.join(top_confusion, "label", "left")
        .na.fill({"max_confused_n": 0})
        .orderBy("label")
    )


@register(
    "q_eval_auc",
    oracle="""
    WITH s AS (
        SELECT value AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    r AS (
        SELECT y,
               RANK() OVER (ORDER BY score) AS rk,
               COUNT(*) OVER (PARTITION BY score) AS cnt
        FROM s
    ),
    agg AS (
        SELECT CAST(SUM(CASE WHEN y = 1 THEN 2 * rk + cnt - 1 ELSE 0 END)
                    AS BIGINT) AS two_rpos,
               CAST(SUM(y) AS BIGINT) AS n_pos,
               CAST(SUM(1 - y) AS BIGINT) AS n_neg
        FROM r
    )
    SELECT two_rpos - n_pos * (n_pos + 1) AS u2,
           n_pos, n_neg,
           ROUND((two_rpos - n_pos * (n_pos + 1))
                 / (2.0 * n_pos * n_neg), 6) AS auc
    FROM agg
    """,
    tags=("J1", "E1", "eval"),
)
def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC via the Mann-Whitney rank statistic with mid-rank
    tie handling: AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) where R⁺ sums the
    positives' mid-ranks. Everything stays integer until one final
    division (2·midrank = 2·rank + tiecount − 1 is an integer), so the
    statistic is bit-exact cross-engine — no trapezoid approximation,
    no threshold sweep. At 100 TB this is one hash aggregate to
    distinct scores + one tiny ordered window over those — never a
    full-table global sort (see the in-body comment); labels here are
    the purchase indicator scored by `value`."""
    ev = t(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    from pyspark.sql import Window

    # Scale shape: a naive rank() over all rows is a single-partition
    # sort of the FULL table. Instead aggregate per DISTINCT score
    # first (one hash shuffle, massive reduction), then run the tiny
    # ordered window over distinct scores only: every element of a tie
    # group has 2·midrank = 2·cum_before + cnt + 1, so the per-group
    # positive contribution is pos·(2·cum_before + cnt + 1) — same
    # integers as the row-level formula (the oracle keeps the
    # row-level spelling; both must match exactly).
    per_score = ev.groupBy("score").agg(
        F.sum("y").alias("pos"), F.count("*").alias("cnt")
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_score.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    agg = ranked.agg(
        F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1))
        .cast("bigint")
        .alias("two_rpos"),
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("cnt") - F.col("pos")).cast("bigint").alias("n_neg"),
    )
    return agg.select(
        (F.col("two_rpos") - F.col("n_pos") * (F.col("n_pos") + 1)).alias("u2"),
        "n_pos",
        "n_neg",
        F.round(
            (F.col("two_rpos") - F.col("n_pos") * (F.col("n_pos") + 1))
            / (2.0 * F.col("n_pos") * F.col("n_neg")),
            6,
        ).alias("auc"),
    )


# Event values in cents with the purchase label y, and their range
# (the bins of the calibration and Brier lines).
_CALIB_SQL = """s AS (
        SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS cents,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM s)"""


@register(
    "q_eval_calibration",
    oracle=f"""
    WITH {_CALIB_SQL}
    SELECT ((cents - lo) * 10) // (hi - lo + 1) AS bin,
           COUNT(*) AS n,
           ROUND(SUM(cents) / (100.0 * COUNT(*)), 6) AS mean_score,
           ROUND(SUM(y) / (1.0 * COUNT(*)), 6) AS frac_pos
    FROM s CROSS JOIN rng
    GROUP BY 1
    """,
    tags=("J1", "D3", "eval"),
)
def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table: scores fixed-pointed to integer
    cents, binned into 10 equal-width buckets with pure integer
    arithmetic ((c−lo)·10 div (hi−lo+1) — no float boundary can
    disagree between engines), then per-bin mean score vs empirical
    positive rate. A well-calibrated scorer has mean_score ≈ frac_pos
    per bin; the query is the standard reliability-diagram input
    computed as two scans (global min/max, then one aggregate)."""
    ev = t(spark, sf_dir, "events").select(
        cents("value").alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    rng = ev.agg(
        F.min("cents").alias("lo"), F.max("cents").alias("hi")
    )
    binned = ev.crossJoin(F.broadcast(rng)).select(
        F.expr("((cents - lo) * 10) div (hi - lo + 1)").alias("bin"),
        "cents",
        "y",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.sum("cents") / (100.0 * F.count("*")), 6).alias("mean_score"),
        F.round(F.sum("y") / (1.0 * F.count("*")), 6).alias("frac_pos"),
    )


_MANY_MODELS_ORACLE = """
WITH e AS (SELECT vec_id, vec_id % 3 AS tenant, label, embedding FROM embeddings),
expl AS (
    SELECT tenant, label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM e),
cent AS (SELECT tenant, label AS clab, pos, AVG(val) AS c
         FROM expl GROUP BY tenant, label, pos),
c2 AS (SELECT tenant, clab, SUM(c*c) AS cc FROM cent GROUP BY tenant, clab),
vex AS (
    SELECT vec_id, tenant, label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM e),
dist AS (
    SELECT v.vec_id, ANY_VALUE(v.tenant) AS tenant,
           ANY_VALUE(v.label) AS label, c.clab,
           SUM(-2.0 * v.val * c.c) + ANY_VALUE(c2.cc) AS d
    FROM vex v
    JOIN cent c ON c.pos = v.pos AND c.tenant = v.tenant
    JOIN c2 ON c2.clab = c.clab AND c2.tenant = v.tenant
    GROUP BY v.vec_id, c.clab),
ranked AS (SELECT vec_id, tenant, label, clab,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clab) AS rn
           FROM dist)
SELECT vec_id, CAST(tenant AS BIGINT) AS tenant, label,
       CAST(clab AS INT) AS pred
FROM ranked WHERE rn = 1
"""


@register("q_infer_many_models", oracle=_MANY_MODELS_ORACLE, tags=("J4", "J1"))
def q_infer_many_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANY-MODELS inference (the per-tenant/per-region pattern): the
    corpus is partitioned into tenants (vec_id % 3) and a SEPARATE
    nearest-centroid model is fit and applied per tenant, entirely
    inside one applyInPandas — each group's fit+predict runs where its
    data lives, no driver round-trip, and 10k tenants would
    parallelize exactly like 3 (the applyInPandas contract). Tenant
    models genuinely differ (different training rows), and the oracle
    recomputes every per-tenant fit + argmin in SQL, so model
    leakage ACROSS groups would flip predictions and fail the hash."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (F.col("vec_id") % 3).alias("tenant"),
        "label",
        "embedding",
    )

    def fit_predict(pdf: pd.DataFrame) -> pd.DataFrame:
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        y = pdf["label"].to_numpy()
        labels = np.array(sorted(set(int(v) for v in y)), dtype=np.int32)
        cents = np.stack([X[y == lab].mean(axis=0) for lab in labels])
        pred = nearest_centroid_predict(X, cents, labels)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "tenant": pdf["tenant"],
                "label": pdf["label"],
                "pred": pred,
            }
        )

    return emb.groupBy("tenant").applyInPandas(
        fit_predict, "vec_id bigint, tenant bigint, label int, pred int"
    )


# ---------------------------------------------------------------------------
# Random-subspace ensemble: three nearest-centroid models, each seeing a
# disjoint slice of the embedding, majority-voted.
# ---------------------------------------------------------------------------

_SUBSPACES = ((0, 21), (21, 42), (42, 64))  # [lo, hi) over the 64 dims


def _ensemble_oracle() -> str:
    parts = []
    unions = []
    for i, (lo, hi) in enumerate(_SUBSPACES):
        # oracle pos is 1-based (generate_subscripts) → (lo, hi] window
        parts.append(f"""
c2_{i} AS (SELECT clab, SUM(c*c) AS cc FROM cent
           WHERE pos > {lo} AND pos <= {hi} GROUP BY clab),
dist_{i} AS (
    SELECT v.vec_id, ANY_VALUE(v.label) AS label, c.clab,
           SUM(-2.0 * v.val * c.c) + ANY_VALUE(c2_{i}.cc) AS d
    FROM vex v
    JOIN cent c ON c.pos = v.pos AND v.pos > {lo} AND v.pos <= {hi}
    JOIN c2_{i} ON c2_{i}.clab = c.clab
    GROUP BY v.vec_id, c.clab),
p_{i} AS (
    SELECT vec_id, label, clab AS pred FROM (
        SELECT vec_id, label, clab,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, clab) AS rn
        FROM dist_{i}) WHERE rn = 1)""")
        unions.append(f"SELECT vec_id, label, pred FROM p_{i}")
    return f"""
WITH expl AS (
    SELECT label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings),
cent AS (SELECT label AS clab, pos, AVG(val) AS c FROM expl GROUP BY label, pos),
vex AS (
    SELECT vec_id, label, generate_subscripts(embedding, 1) AS pos,
           CAST(unnest(embedding) AS DOUBLE) AS val
    FROM embeddings),{",".join(parts)},
votes AS ({" UNION ALL ".join(unions)}),
tally AS (
    SELECT vec_id, ANY_VALUE(label) AS label, pred, COUNT(*) AS n_votes
    FROM votes GROUP BY vec_id, pred)
SELECT vec_id, label, CAST(pred AS INT) AS pred_vote,
       CAST(n_votes AS BIGINT) AS n_votes
FROM (SELECT vec_id, label, pred, n_votes,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY n_votes DESC, pred) AS rn
      FROM tally)
WHERE rn = 1
"""


@register("q_infer_ensemble", oracle=_ensemble_oracle(), tags=("J1", "J3", "D1"))
def q_infer_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-subspace ENSEMBLE inference (the classic variance-
    reduction bagging variant): three nearest-centroid models, each
    restricted to a disjoint third of the embedding dims, majority-
    voted with the deterministic tiebreak (most votes, then lowest
    class id). Because the mean commutes with coordinate projection,
    each subspace model's centroids are SLICES of the one distributed
    centroid fit — no extra fit jobs; all three models score and vote
    inside ONE Iterator Arrow UDF pass (one Arrow crossing for the whole
    ensemble, the shape a 3-model DNN ensemble would use). A row's three
    votes are already in that row, so the vote needs no shuffle; the
    oracle votes relationally (union → count → ranked pick), so the
    whole ensemble is exactly oracle-checked end to end."""
    from pyspark.sql.functions import arrow_udf

    emb = t(spark, sf_dir, "embeddings")
    cents, labels = fit_centroids(emb)

    @arrow_udf("struct<pred_vote:int,n_votes:bigint>")
    def predict3(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        C = np.ascontiguousarray(cents)
        L = labels
        for batch in batches:
            X = embedding_matrix(batch)
            P = np.stack(
                [
                    nearest_centroid_predict(X[:, lo:hi], np.ascontiguousarray(C[:, lo:hi]), L)
                    for lo, hi in _SUBSPACES
                ],
                axis=1,
            )  # (n, 3): one vote per subspace model
            votes = (P[:, :, None] == P[:, None, :]).sum(axis=2)  # votes for each pick
            best = np.lexsort((P, -votes), axis=1)[:, 0]  # most votes, then lowest id
            rows = np.arange(len(P))
            yield pa.StructArray.from_arrays(
                [
                    pa.array(P[rows, best].astype(np.int32)),
                    pa.array(votes[rows, best].astype(np.int64)),
                ],
                names=["pred_vote", "n_votes"],
            )

    return emb.select("vec_id", "label", predict3("embedding").alias("v")).select(
        "vec_id", "label", "v.pred_vote", "v.n_votes"
    )


@register(
    "q_eval_lift",
    oracle="""
    WITH s AS (
        SELECT event_id, value AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    d AS (
        SELECT y, NTILE(10) OVER (ORDER BY score DESC, event_id) AS decile
        FROM s
    ),
    g AS (
        SELECT decile, COUNT(*) AS n_rows, SUM(y) AS n_pos
        FROM d GROUP BY decile
    ),
    c AS (
        SELECT decile, n_rows, n_pos,
               SUM(n_rows) OVER (ORDER BY decile) AS cum_n,
               SUM(n_pos) OVER (ORDER BY decile) AS cum_pos,
               SUM(n_rows) OVER () AS n_tot,
               SUM(n_pos) OVER () AS pos_tot
        FROM g
    )
    SELECT decile, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_pos AS BIGINT) AS n_pos,
           CAST(cum_pos * n_tot * 1000000 // (cum_n * pos_tot) AS BIGINT)
               AS lift_e6,
           CAST(cum_pos * 1000000 // pos_tot AS BIGINT) AS capture_e6
    FROM c
    """,
    tags=("J1", "E4", "eval"),
)
def q_eval_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile GAINS/LIFT table — the model-evaluation report next to
    q_eval_auc/q_eval_calibration: rank rows by score descending, cut
    into 10 equal deciles, and report per-decile positives plus
    cumulative lift (capture rate over the base rate) and cumulative
    capture, both as exact integer e6 ratios (DIV // parity — no float
    share at a bucket boundary). The oracle spells deciles as one
    NTILE; the Spark plan computes the SAME total order with the
    distributed-rank pattern instead of a single-partition window:

    1. bucket every row by a DETERMINISTIC coarse key aligned with the
       sort order (floor(score) — a prefix of the sort key, so a higher
       bucket means strictly earlier ranks; unlike a repartitionByRange
       partition id, the bucket cannot move between re-evaluations of
       the plan, so the offsets frame and the rank frame can never
       disagree — range sampling is nondeterministic across jobs);
    2. per-bucket local row_number (window PARTITIONED by bucket —
       parallel, no global sort node);
    3. bucket rank offsets from a |buckets|-row count frame, broadcast
       back;
    4. global rank = offset + local rank, decile from rank and n by
       NTILE's closed-form bucket rule (first n mod 10 buckets get
       ⌈n/10⌉ rows) — bit-identical to the oracle's NTILE.

    The only full-data exchanges are the bucket shuffle and the decile
    hash aggregate; the cumulative window runs on 10 rows. At 100 TB
    the same plan stands with a finer bucket key (score quantized to
    whatever precision bounds bucket skew) — the two-phase rank
    replaces the impossible global window."""
    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("bigint").alias("y"),
    )
    from pyspark.sql import Window

    from ..operators.sort_limit import two_phase_rank

    ranked_only = two_phase_rank(
        ev,
        F.floor("score").cast("bigint"),
        [F.desc("score"), F.asc("event_id")],
        ascending=False,
    )
    n_tot_frame = ranked_only.agg(
        F.count("*").alias("n_tot")
    )  # 1-row scalar, joined broadcast below
    ranked = ranked_only.crossJoin(F.broadcast(n_tot_frame))
    from ..operators.sort_limit import ntile_from_rank

    decile = F.expr(ntile_from_rank(10))
    g = (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(F.count("*").alias("n_rows"), F.sum("y").alias("n_pos"))
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    whole = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = g.select(
        "decile",
        "n_rows",
        "n_pos",
        F.sum("n_rows").over(wcum).alias("cum_n"),
        F.sum("n_pos").over(wcum).alias("cum_pos"),
        F.sum("n_rows").over(whole).alias("n_tot"),
        F.sum("n_pos").over(whole).alias("pos_tot"),
    )
    return c.select(
        "decile",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.expr(
            "CAST(cum_pos * n_tot * 1000000 DIV (cum_n * pos_tot) AS BIGINT)"
        ).alias("lift_e6"),
        F.expr("CAST(cum_pos * 1000000 DIV pos_tot AS BIGINT)").alias("capture_e6"),
    )


_QSHIFT, _QSTEP = 1_000_000, 16_384  # e6 shift to nonneg; ~int8 step

# The quantized inputs (xe: e6-shifted components xs; xq: their int8
# codes) and per-class code centroids (cent), the oracle twin of
# ``_quant_centroids``.
_QUANT_CTES_SQL = f"""xe AS (
        SELECT vec_id, label,
               UNNEST(range(1, len(embedding) + 1)) AS pos,
               UNNEST(list_transform(CAST(embedding AS DOUBLE[]),
                   v -> CAST(ROUND(v * 1000000) AS BIGINT) + {_QSHIFT}))
                   AS xs
        FROM embeddings
    ),
    xq AS (SELECT vec_id, label, pos, xs // {_QSTEP} AS xq FROM xe),
    cent AS (
        SELECT label AS cl, pos,
               (CAST(SUM(xs) AS BIGINT) // COUNT(*)) // {_QSTEP} AS cq
        FROM xe GROUP BY 1, 2
    )"""
_QXS_EXPR = (
    f"transform(embedding, v -> "
    f"CAST(ROUND(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT) + {_QSHIFT})"
)


def _quant_centroids(emb):
    """Exact-integer quantized per-label centroids for the INT8 serving
    kernel: (SUM(xs) DIV n) DIV step, collected bounded (classes × dim
    rows). Shared by q_infer_quantized and q_select_uncertain so the
    quantization ladder has exactly one definition."""
    rows = (
        emb.select("label", F.posexplode(F.expr(_QXS_EXPR)).alias("pos", "xs"))
        .groupBy("label", "pos")
        .agg(F.expr(f"(SUM(xs) DIV COUNT(*)) DIV {_QSTEP}").alias("cq"))
        .collect()
    )
    labels = sorted({r["label"] for r in rows})
    dim = max(r["pos"] for r in rows) + 1
    cents = np.zeros((len(labels), dim), dtype=np.int64)
    lidx = {lab: i for i, lab in enumerate(labels)}
    for r in rows:
        cents[lidx[r["label"]], r["pos"]] = r["cq"]
    return cents, np.asarray(labels, dtype=np.int64)


_QUANT_ORACLE = f"""
    WITH {_QUANT_CTES_SQL},
    d AS (
        SELECT vec_id, label, cl,
               SUM((xq - cq) * (xq - cq)) AS dist
        FROM xq JOIN cent USING (pos)
        GROUP BY 1, 2, 3
    ),
    p AS (
        SELECT vec_id, label, cl AS pred,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM d
    )
    SELECT vec_id, label, CAST(pred AS BIGINT) AS pred
    FROM p WHERE rn = 1
"""


@register("q_infer_quantized", oracle=_QUANT_ORACLE, tags=("J1", "J3"))
def q_infer_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8-quantized inference — the serving optimization every
    production deployment makes (weights + activations quantized,
    integer kernel), in a form an exact oracle can pin: embeddings
    are shifted to non-negative e6 fixed point JVM-side (SQL ROUND —
    numpy's banker's rounding never touches a boundary) and divided
    down to ~int8 range [29, 89] (positive DIV throughout — the
    negative-operand DIV/FLOOR-divide engine mismatch is designed
    out by the shift, cf. the oracle-parity rules), centroids are
    quantized from exact integer means with the same ladder, and the
    Arrow-batched kernel scores pure-integer squared distances with
    argmin tie → smallest label. Bit-exact against the relational
    replay, so the quantization ladder itself is verified — the
    property a float stand-in could never give. Same plan shape as
    the J1 flagship: tiny centroid collect, one Iterator-pandas-UDF
    scan, no shuffle."""
    emb = t(spark, sf_dir, "embeddings")
    cents, labs = _quant_centroids(emb)
    xs_expr = _QXS_EXPR

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def predict_q(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        C = np.ascontiguousarray(cents)  # (k, d) int64
        for s in batches:
            X = np.stack(s.to_numpy()).astype(np.int64)  # (n, d)
            # integer squared distance; argmin first-occurrence = the
            # smallest label on ties (labels sorted)
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            yield pd.Series(labs[np.argmin(d, axis=1)])

    xq = emb.select(
        "vec_id",
        "label",
        F.expr(f"transform({xs_expr}, x -> x DIV {_QSTEP})").alias("xq"),
    )
    return xq.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        predict_q("xq").alias("pred"),
    ).select("vec_id", "label", "pred")


@register(
    "q_eval_pr_curve",
    oracle="""
    WITH s AS (
        SELECT value AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ),
    ps AS (SELECT score, SUM(y) AS pos, COUNT(*) AS cnt FROM s GROUP BY score),
    c AS (
        SELECT score,
               SUM(pos) OVER w AS tp,
               SUM(cnt) OVER w AS cum,
               ROW_NUMBER() OVER (ORDER BY score DESC) AS rn
        FROM ps
        WINDOW w AS (ORDER BY score DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    tot AS (SELECT CAST(SUM(y) AS BIGINT) AS np FROM s)
    SELECT CAST(rn AS BIGINT) AS rn, score,
           CAST(tp AS BIGINT) AS tp,
           CAST(cum - tp AS BIGINT) AS fp,
           CAST(tp * 1000000 // cum AS BIGINT) AS precision_e6,
           CAST(tp * 1000000 // np AS BIGINT) AS recall_e6
    FROM c CROSS JOIN tot
    WHERE rn % 500 = 1
    """,
    tags=("J1", "E1", "eval"),
)
def q_eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT precision-recall curve (completes the eval suite next to
    ROC-AUC / calibration / lift): at each distinct score threshold t
    (predict positive iff score ≥ t), cumulative TP/FP from a
    descending window over DISTINCT scores, precision and recall in
    fixed-point e6 (positive integer DIV only). The curve is sampled
    at every 500th threshold rank — a deterministic thinning that
    keeps the compared result bounded while spanning the full range
    (real dashboards thin the same way).

    Scale shape is q_eval_auc's: aggregate per distinct score FIRST
    (one hash shuffle, massive reduction), then the tiny ordered
    window runs over distinct scores only — never a full-table global
    sort. The positives total is a third tiny aggregate joined on."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events").select(
        F.col("value").alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    ps = ev.groupBy("score").agg(
        F.sum("y").alias("pos"), F.count("*").alias("cnt")
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = ps.select(
        "score",
        F.sum("pos").over(w).alias("tp"),
        F.sum("cnt").over(w).alias("cum"),
        F.row_number().over(Window.orderBy(F.desc("score"))).alias("rn"),
    ).filter(F.col("rn") % 500 == 1)
    np_total = ev.agg(F.sum("y").cast("bigint").alias("np"))
    return c.join(F.broadcast(np_total)).select(
        F.col("rn").cast("bigint").alias("rn"),
        "score",
        F.col("tp").cast("bigint").alias("tp"),
        (F.col("cum") - F.col("tp")).cast("bigint").alias("fp"),
        F.expr("tp * 1000000 DIV cum").alias("precision_e6"),
        F.expr("tp * 1000000 DIV np").alias("recall_e6"),
    )


_UNCERTAIN_K = 64

_UNCERTAIN_ORACLE = f"""
    WITH {_QUANT_CTES_SQL},
    d AS (
        SELECT vec_id, cl,
               SUM((xq - cq) * (xq - cq)) AS dist
        FROM xq JOIN cent USING (pos)
        GROUP BY 1, 2
    ),
    r AS (
        SELECT vec_id, cl, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cl) AS rn
        FROM d
    ),
    m AS (
        SELECT vec_id,
               MIN(CASE WHEN rn = 1 THEN cl END) AS pred,
               CAST(MIN(CASE WHEN rn = 2 THEN dist END)
                    - MIN(CASE WHEN rn = 1 THEN dist END) AS BIGINT)
                   AS margin
        FROM r GROUP BY vec_id
    )
    SELECT vec_id, CAST(pred AS BIGINT) AS pred, margin
    FROM m ORDER BY margin, vec_id LIMIT {_UNCERTAIN_K}
"""


@register("q_select_uncertain", oracle=_UNCERTAIN_ORACLE, tags=("J1", "J3", "F2"))
def q_select_uncertain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACTIVE-LEARNING selection by margin sampling — the step after
    batch inference in every label-efficient retraining loop [PK]:
    rank unlabeled examples by the margin between their two nearest
    classes (small margin = the model can't decide = the most
    informative next label) and take the K most uncertain. Runs on
    the INT8-quantized integer kernel (q_infer_quantized's ladder,
    shared via _quant_centroids), so the margin d2 − d1 is an exact
    BIGINT both engines agree on bit-for-bit — a float margin would
    make the top-K boundary engine-dependent on near-ties. Ties at
    the K boundary break by vec_id; ties between classes break by
    smallest label (stable argsort == ROW_NUMBER ORDER BY dist, cl).
    Plan: the same one-pass Arrow-batched scan as the J1 flagship
    (tiny centroid collect, no shuffle), then a global top-K =
    TakeOrderedAndProject — scale-safe at any corpus size, and at
    100 TB the selection is exactly the map-side-scored,
    heap-merged shape a fleet-wide labeling queue needs."""
    from pyspark.sql.functions import pandas_udf

    emb = t(spark, sf_dir, "embeddings")
    cents, labs = _quant_centroids(emb)

    @pandas_udf("struct<pred: bigint, margin: bigint>")
    def score_margin(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        C = np.ascontiguousarray(cents)  # (k, d) int64
        for s in batches:
            X = np.stack(s.to_numpy()).astype(np.int64)  # (n, d)
            d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            idx = np.argsort(d, axis=1, kind="stable")  # ties -> low label
            rows = np.arange(d.shape[0])
            best, second = idx[:, 0], idx[:, 1]
            yield pd.DataFrame(
                {
                    "pred": labs[best],
                    "margin": d[rows, second] - d[rows, best],
                }
            )

    xq = emb.select(
        "vec_id",
        F.expr(f"transform({_QXS_EXPR}, x -> x DIV {_QSTEP})").alias("xq"),
    )
    scored = xq.select("vec_id", score_margin("xq").alias("s")).select(
        "vec_id",
        F.col("s.pred").cast("bigint").alias("pred"),
        F.col("s.margin").cast("bigint").alias("margin"),
    )
    return scored.orderBy("margin", "vec_id").limit(_UNCERTAIN_K)


@register(
    "q_eval_brier",
    oracle=f"""
    WITH {_CALIB_SQL},
    b AS (
        SELECT ((cents - lo) * 10) // (hi - lo + 1) AS bin,
               cents - lo AS pnum, y, hi - lo AS pden
        FROM s CROSS JOIN rng
    ),
    per_bin AS (
        SELECT bin, ANY_VALUE(pden) AS pden,
               CAST(COUNT(*) AS HUGEINT) AS n_b,
               CAST(SUM(pnum) AS HUGEINT) AS s_b,
               CAST(SUM(y) AS HUGEINT) AS y_b
        FROM b GROUP BY bin
    ),
    tot AS (
        SELECT CAST(SUM(n_b) AS HUGEINT) AS n,
               CAST(SUM(y_b) AS HUGEINT) AS yy,
               ANY_VALUE(pden) AS pden,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM per_bin
    ),
    terms AS (
        SELECT
          CAST(SUM(((s_b - per_bin.pden * y_b)
                    * (s_b - per_bin.pden * y_b) * 1000000000)
                   // (per_bin.pden * per_bin.pden * n_b)) AS HUGEINT)
            AS rel_sum,
          CAST(SUM(((y_b * t.n - t.yy * n_b) * (y_b * t.n - t.yy * n_b)
                    * 1000000000) // (n_b * t.n * t.n)) AS HUGEINT)
            AS res_sum,
          CAST(SUM(ABS(s_b - per_bin.pden * y_b)) AS HUGEINT) AS adev
        FROM per_bin, tot t
    )
    SELECT CAST(t.n AS BIGINT) AS n,
           t.n_bins,
           CAST(terms.rel_sum // t.n AS BIGINT) AS rel_e9,
           CAST(terms.res_sum // t.n AS BIGINT) AS res_e9,
           CAST((t.yy * (t.n - t.yy) * 1000000000) // (t.n * t.n)
                AS BIGINT) AS unc_e9,
           CAST(terms.rel_sum // t.n - terms.res_sum // t.n
                + (t.yy * (t.n - t.yy) * 1000000000) // (t.n * t.n)
                AS BIGINT) AS brier_e9,
           CAST((terms.adev * 1000000000) // (t.pden * t.n) AS BIGINT)
             AS ece_e9,
           (terms.adev * 1000000000) // (t.pden * t.n) <= 50000000
             AS calibrated
    FROM terms, tot t
    """,
    tags=("J1", "D3", "eval"),
)
def q_eval_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRIER SCORE with the MURPHY (1973) DECOMPOSITION + expected
    calibration error — the quantitative layer over q_eval_calibration's
    reliability table: for the binned forecast (10 equal-width score
    bins, the same integer bin rule), Brier = REL - RES + UNC exactly,
    where REL (reliability) punishes bins whose mean forecast strays
    from their empirical rate, RES (resolution) rewards bins that
    separate the base rate, UNC is the irreducible base-rate variance.
    ECE = sum_b n_b |f_b - ybar_b| / n is the scalar every model card
    quotes; the 'calibrated' gate is ECE <= 0.05 (a data-quality policy
    threshold like q_quality_expectations', not a statistical test —
    stated as such).

    Exactness: the forecast is the rational pnum/pden (cents
    min-max-normalized, pden = hi - lo), so every bin's deviation
    d = S_b - pden*Y_b is an exact integer and each term is an exact
    floor-e9 quotient with domain-bounded operands (d^2 * 10^9 <=
    (n_b*pden)^2 * 10^9 ~ 10^27 at sf1 — inside HUGEINT/DECIMAL(38,0)
    through sf100); the Murphy identity is then exact on the staged
    fixings up to the three stated floors. No float in the gate.

    Plan: the q_eval_calibration shape — one global (min, max) 1-row
    broadcast, one 10-bin census, arithmetic on the 10-row frame."""
    ev = t(spark, sf_dir, "events").select(
        cents("value").alias("cents"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    )
    rng = ev.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    D38 = "decimal(38,0)"
    b = ev.crossJoin(F.broadcast(rng)).select(
        F.expr("((cents - lo) * 10) div (hi - lo + 1)").alias("bin"),
        (F.col("cents") - F.col("lo")).alias("pnum"),
        "y",
        (F.col("hi") - F.col("lo")).alias("pden"),
    )
    per_bin = pin(
        b.groupBy("bin").agg(
            F.first("pden").cast(D38).alias("pden"),
            F.count("*").cast(D38).alias("n_b"),
            F.sum("pnum").cast(D38).alias("s_b"),
            F.sum("y").cast(D38).alias("y_b"),
        ),
        "q_eval_brier.per_bin",
    )
    # pinned (round 12): the 10-row bin census feeds tot and terms —
    # unpinned, each re-ran the fact scan + bin pass (4 scans in the
    # before-plan). Fact passes now: 1 for the (min,max) bounds + 1
    # for the census — the minimum this two-pass shape admits.
    tot = per_bin.agg(
        F.sum("n_b").cast(D38).alias("n"),
        F.sum("y_b").cast(D38).alias("yy"),
        F.first("pden").alias("pden_t"),
        F.count("*").cast("bigint").alias("n_bins"),
    )
    terms = per_bin.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.expr(
                "((s_b - pden * y_b) * (s_b - pden * y_b) * 1000000000)"
                " div (pden * pden * n_b)"
            )
        )
        .cast(D38)
        .alias("rel_sum"),
        F.sum(
            F.expr(
                "((y_b * n - yy * n_b) * (y_b * n - yy * n_b)"
                " * 1000000000) div (n_b * n * n)"
            )
        )
        .cast(D38)
        .alias("res_sum"),
        F.sum(F.abs(F.col("s_b") - F.col("pden") * F.col("y_b")))
        .cast(D38)
        .alias("adev"),
        F.first("n").alias("n"),
        F.first("yy").alias("yy"),
        F.first("pden_t").alias("pden_t"),
        F.first("n_bins").alias("n_bins"),
    )
    return terms.select(
        F.col("n").cast("bigint").alias("n"),
        "n_bins",
        F.expr("CAST(rel_sum div n AS BIGINT)").alias("rel_e9"),
        F.expr("CAST(res_sum div n AS BIGINT)").alias("res_e9"),
        F.expr(
            "CAST((yy * (n - yy) * 1000000000) div (n * n) AS BIGINT)"
        ).alias("unc_e9"),
        F.expr(
            "CAST(rel_sum div n - res_sum div n"
            " + (yy * (n - yy) * 1000000000) div (n * n) AS BIGINT)"
        ).alias("brier_e9"),
        F.expr(
            "CAST((adev * 1000000000) div (pden_t * n) AS BIGINT)"
        ).alias("ece_e9"),
        F.expr(
            "(adev * 1000000000) div (pden_t * n) <= 50000000"
        ).alias("calibrated"),
    )
