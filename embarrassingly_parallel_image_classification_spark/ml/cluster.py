"""Distributed KMeans clustering over the embedding table — exact,
engine-portable Lloyd iterations (SURVEY.md §2-K extension).

Semantic clustering is the backbone of modern training-data curation
(SemDeDup-style near-duplicate pruning, diversity-balanced sampling,
domain discovery), and its kernel — assign every vector to its nearest
centroid, re-average, repeat — is the canonical "broadcast the small
side, shuffle on the group key" Spark workload. MLlib's KMeans is
seed-dependent and float-summed, so it can never be oracle-checked
exactly; this module instead runs Lloyd's algorithm in FIXED-POINT
INTEGER arithmetic with a deterministic init (the K lowest vec_ids),
which makes every iteration bit-reproducible in ANY engine:

- components quantized to 1e-6 ints ONCE (functions/vectors.py
  quantize_e6 — the shared half-up contract), then OFFSET to positives
  so integer division has one semantics everywhere (Spark's DIV
  truncates toward zero, DuckDB's // floors; they agree exactly on
  non-negative operands — the q_pareto_8020 hardening, commit 996f824);
- distances are Σ(q−c)² over bigints — commutative integer adds, so
  ANY summation order gives the identical result (the property float
  KMeans lacks and the reason it can't cross-check);
- centroid updates are half-up integer means (2·Σq + n) DIV (2·n);
- ties in the argmin break to the lowest cluster id; a cluster left
  empty by a round simply stops competing (both engines agree because
  the oracle's update CTE drops it the same way).

Scale shape — the MLlib KMeans dataflow, exactly: the K·dim centroid
table lives DRIVER-SIDE between rounds (K·dim integers — bytes, not
data), each assignment is a MAP-SIDE expression against literal
centroids (no join, no shuffle of the points side), and each update is
ONE (cid, pos) shuffle of fixed-width rows with map-side partials
followed by a bounded K·dim collect. Per full Lloyd iteration: one
shuffle + one bounded collect; the final report is one more map-side
assignment feeding a K-row aggregate. (An earlier draft kept centroids
as a DataFrame and paid a per-round groupBy(vec_id) argmin shuffle
plus a vec_id join — the review caught the docstring/plan mismatch;
this spelling is the one the docs always claimed.)

The SemDeDup oracles share their CTE text through oracle-only
fragments: ``_sem_training_ctes`` (the corpus, its quantized long form,
the init and the hard Lloyd rounds; twin of ``_semantic_trained``),
``_sem_assign_sql`` (one argmin assignment round; twin of ``_best``)
and ``_SEM_NEAR_SQL`` (the same-cell exact-cosine pair condition).
The long-form assignments share ``_longform_dist``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import quantize_e6
from ..localframe import local_df, pin
from ..registry import register
from ..sources.tables import t

_K = 4
_ITERS = 2  # FULL Lloyd iterations (assign+update); one final assign more
_OFFSET = 2_000_000  # shifts 1e-6-quantized components ≥ 0 (|x| < 1)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, q array<bigint>): offset fixed-point components."""
    return t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding", lambda x: quantize_e6(x) + F.lit(_OFFSET)
        ).alias("q"),
    )


def _best(cents: list[tuple[int, list[int]]]) -> Column:
    """struct(dist, cid) of the nearest LITERAL centroid — a pure
    map-side expression (array_min over per-centroid structs; struct
    comparison is lexicographic, so ties break to the lowest cid)."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            "q",
                            F.array(*[F.lit(v) for v in vec]),
                            lambda x, y: (x - y) * (x - y),
                        ),
                        F.lit(0).cast("bigint"),
                        lambda acc, d: acc + d,
                    ).alias("dist"),
                    F.lit(cid).cast("bigint").alias("cid"),
                )
                for cid, vec in cents
            ]
        )
    )


def _update(points: DataFrame, cents) -> list[tuple[int, list[int]]]:
    """One Lloyd update: map-side assignment, ONE (cid, pos) shuffle
    for the half-up integer means, then a BOUNDED K·dim collect (the
    centroid table is bytes — driver residency between rounds is the
    MLlib shape, and the documented exception to the no-collect rule).
    Clusters with no members drop out, matching the oracle's update
    CTE."""
    rows = (
        points.select(_best(cents).alias("b"), "q")
        .select(
            F.col("b.cid").alias("cid"), F.posexplode("q").alias("pos", "qv")
        )
        .groupBy("cid", "pos")
        .agg(
            F.expr(
                "CAST((2 * SUM(qv) + COUNT(*)) DIV (2 * COUNT(*)) AS BIGINT)"
            ).alias("cv")
        )
        .collect()  # bounded: ≤ K·dim rows
    )
    by_cid: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["cv"]
    return [
        (cid, [comp[p] for p in range(len(comp))])
        for cid, comp in sorted(by_cid.items())
    ]


def _kmeans_oracle() -> str:
    """Unrolled chained-CTE DuckDB oracle — the same integer dataflow
    in long form (cf. operators/graph.py's pagerank oracle): _ITERS
    full assign+update rounds, then the reported final assignment."""
    ctes = [
        f"""q AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000
                          + 0.5) AS BIGINT) + {_OFFSET} AS qv
        FROM embeddings)""",
        f"""init AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cid
        FROM (SELECT DISTINCT vec_id FROM embeddings
              ORDER BY vec_id LIMIT {_K}))""",
        "c0 AS (SELECT init.cid, q.pos, q.qv AS cv FROM init "
        "JOIN q USING (vec_id))",
    ]
    for k in range(_ITERS + 1):
        ctes.append(
            f"""a{k + 1} AS (
        SELECT vec_id, cid, dist FROM (
            SELECT q.vec_id, c.cid,
                   SUM((q.qv - c.cv) * (q.qv - c.cv)) AS dist
            FROM q JOIN c{k} c ON q.pos = c.pos
            GROUP BY q.vec_id, c.cid)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) = 1)"""
        )
        if k < _ITERS:
            ctes.append(
                f"""c{k + 1} AS (
        SELECT a.cid, q.pos,
               (2 * SUM(q.qv) + COUNT(*)) // (2 * COUNT(*)) AS cv
        FROM a{k + 1} a JOIN q USING (vec_id)
        GROUP BY a.cid, q.pos)"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(dist // 1000000) AS BIGINT) AS inertia_e6
    FROM a{_ITERS + 1} GROUP BY cid ORDER BY cid"""
    )


@register(
    "q_cluster_kmeans",
    oracle=_kmeans_oracle(),
    tags=("K", "J1", "D1"),
)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distributed KMeans (K=4, 2 FULL Lloyd iterations +
    reported final assignment, deterministic lowest-vec_id init) over
    the embedding table: per-cluster sizes and integer inertia.
    Inertia is reduced per point by DIV 1e6 BEFORE summing (truncation
    of non-negative ints — identical in both engines) so the
    corpus-level sum keeps ~100× headroom inside bigint at any
    realistic scale. Every quantity is integer-exact, so the Spark
    broadcast-literal spelling and the oracle's long form must agree
    bit-for-bit — the cross-engine check MLlib KMeans (seeded,
    float-summed) structurally cannot pass. Plan per iteration: zero
    joins — one map-side argmin expression + one (cid, pos) shuffle;
    the driver holds only K·dim integers between rounds."""
    points = _quantized(spark, sf_dir)
    # bounded K-row collect: the deterministic init (lowest vec_ids)
    init_rows = points.orderBy("vec_id").limit(_K).collect()
    cents = [(cid, list(r["q"])) for cid, r in enumerate(init_rows)]
    for _ in range(_ITERS):
        cents = _update(points, cents)
    return (
        points.select(_best(cents).alias("b"))
        .groupBy(F.col("b.cid").alias("cid"))
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.sum(F.expr("b.dist DIV 1000000")).cast("bigint")
            .alias("inertia_e6"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic near-duplicate pruning scoped by the KMeans
# clusters above (Abbas et al. 2023): embed, cluster, search for
# near-duplicates ONLY within each cluster, keep one representative.
# ---------------------------------------------------------------------------

_SEM_TAU2_E6 = 810_000  # τ = 0.9 → τ²·1e6 (integer comparison constant)
_SEM_K = 16  # SemDeDup's own recipe: K grows with N so clusters stay
# small and the within-cluster quadratic stays bounded — 4× fewer
# pairs than K=4 at this fixture (measured 8.2 → 2.9 s at sf0.1)
_SEM_PLANT_MOD = 40  # every 40th vector gets a planted 0.99-scaled copy
# planted copy id = original id + (MAX(vec_id) + 1), derived from the
# data in-plan — a fixed literal offset collides with real ids once the
# corpus outgrows it (review finding: 100_000 breaks at 100k rows)


def _sem_assign_sql(k: int) -> str:
    """The ``a{k+1}`` CTE: each quantized vector's nearest centroid of
    ``c{k}`` (lowest cid on ties), the oracle twin of ``_best``."""
    return f"""a{k + 1} AS (
        SELECT vec_id, cid FROM (
            SELECT qo.vec_id, c.cid,
                   SUM((qo.qv - c.cv) * (qo.qv - c.cv)) AS dist
            FROM qo JOIN c{k} c ON qo.pos = c.pos
            GROUP BY qo.vec_id, c.cid)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY vec_id ORDER BY dist, cid) = 1)"""


def _sem_training_ctes() -> list[str]:
    """The SemDeDup corpus (with planted copies), its quantized long
    form (q, qo), the first-K init and the _ITERS hard Lloyd rounds
    a1, c1, ..., c_ITERS: the oracle twin of ``_semantic_trained``."""
    ctes = [
        f"""corpus AS (
        SELECT vec_id, embedding, 1.0 AS s FROM embeddings
        UNION ALL
        SELECT vec_id + (SELECT MAX(vec_id) + 1 FROM embeddings),
               embedding, 0.99 AS s
        FROM embeddings WHERE vec_id % {_SEM_PLANT_MOD} = 0)""",
        """q AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(FLOOR((CAST(unnest(embedding) AS DOUBLE) * s) * 1000000
                          + 0.5) AS BIGINT) AS raw
        FROM corpus)""",
        f"qo AS (SELECT vec_id, pos, raw + {_OFFSET} AS qv FROM q)",
        f"""init AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cid
        FROM (SELECT DISTINCT vec_id FROM corpus
              ORDER BY vec_id LIMIT {_SEM_K}))""",
        "c0 AS (SELECT init.cid, qo.pos, qo.qv AS cv FROM init "
        "JOIN qo USING (vec_id))",
    ]
    for k in range(_ITERS):
        ctes.append(_sem_assign_sql(k))
        ctes.append(
            f"""c{k + 1} AS (
        SELECT a.cid, qo.pos,
               (2 * SUM(qo.qv) + COUNT(*)) // (2 * COUNT(*)) AS cv
        FROM a{k + 1} a JOIN qo USING (vec_id)
        GROUP BY a.cid, qo.pos)"""
        )
    return ctes


# The near-pair condition of a pairs CTE over the assignments aa, ab:
# same cell, and cosine^2 >= tau^2 in exact 128-bit integers over the
# raw quantized components q.
_SEM_NEAR_SQL = f"""ON aa.cid = ab.cid AND aa.vec_id < ab.vec_id
        JOIN (SELECT a.vec_id va, b.vec_id vb,
                     SUM(a.raw * b.raw) AS dot,
                     SUM(a.raw * a.raw) AS na,
                     SUM(b.raw * b.raw) AS nb
              FROM q a JOIN q b ON a.pos = b.pos AND a.vec_id < b.vec_id
              GROUP BY a.vec_id, b.vec_id) d
             ON d.va = aa.vec_id AND d.vb = ab.vec_id
        WHERE d.dot > 0
          AND CAST(d.dot AS HUGEINT) * d.dot * 1000000
              >= {_SEM_TAU2_E6} * CAST(d.na AS HUGEINT) * d.nb"""


def _semantic_oracle() -> str:
    """The full SemDeDup dataflow as one chained-CTE oracle: corpus
    with planted copies → the q_cluster_kmeans iterations → within-
    cluster pairwise cosine in 128-bit integer arithmetic → per-
    cluster dedup census."""
    ctes = _sem_training_ctes()
    ctes.append(_sem_assign_sql(_ITERS))
    final = f"a{_ITERS + 1}"
    ctes.append(
        f"""pairs AS (
        SELECT aa.cid, ab.vec_id AS dupe
        FROM {final} aa JOIN {final} ab
             {_SEM_NEAR_SQL})"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT f.cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(DISTINCT p.dupe) AS BIGINT) AS n_dupes
    FROM {final} f LEFT JOIN (SELECT DISTINCT dupe, cid FROM pairs) p
         ON p.dupe = f.vec_id AND p.cid = f.cid
    GROUP BY f.cid"""
    )


def _semantic_trained(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """(points, cents) shared by q_dedup_semantic and its soft sibling:
    the planted corpus — (vec_id, raw, q) with a deterministic
    0.99-scaled copy of every _SEM_PLANT_MOD-th vector — pinned because
    the union feeds every Lloyd round once, and the _SEM_K centroids
    after _ITERS HARD rounds from the K lowest vec_ids."""
    emb = t(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id", F.transform("embedding", quantize_e6).alias("raw")
    )
    # plant id offset derived from the data IN-PLAN (1-row broadcast
    # scalar, the q_text_vocab_growth pattern) — literal offsets
    # collide with real ids at scale; the scaled copy quantizes through
    # the SAME shared contract (quantize_e6(x·0.99) — review finding:
    # re-inlining the floor rule is exactly what the helper exists to
    # prevent)
    maxid = F.broadcast(emb.agg((F.max("vec_id") + 1).alias("plant0")))
    planted = (
        emb.filter(F.col("vec_id") % _SEM_PLANT_MOD == 0)
        .crossJoin(maxid)
        .select(
            (F.col("vec_id") + F.col("plant0")).alias("vec_id"),
            F.transform(
                "embedding", lambda x: quantize_e6(x * F.lit(0.99))
            ).alias("raw"),
        )
    )
    points = pin(
        base.unionByName(planted).select(
            "vec_id",
            "raw",
            F.transform("raw", lambda x: x + F.lit(_OFFSET)).alias("q"),
        ),
        "semantic.points",
    )
    init_rows = points.orderBy("vec_id").limit(_SEM_K).collect()
    cents = [(cid, list(r["q"])) for cid, r in enumerate(init_rows)]
    for _ in range(_ITERS):
        cents = _update(points, cents)
    return points, cents


def _dot(x: str, y: str) -> Column:
    """Exact BIGINT dot product of two integer arrays."""
    return F.aggregate(
        F.zip_with(x, y, lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, d: acc + d,
    )


def _near_pairs(member: DataFrame) -> DataFrame:
    """(cid, vb) per within-cluster pair va < vb of ``member`` (cid,
    vec_id, raw, nrm) whose cosine is >= tau, tested in integers:
    dot > 0 and dot²·1e6 >= tau²e6·na·nb in DECIMAL(38,0)."""
    a = member.select(
        F.col("cid").alias("cid"),
        F.col("vec_id").alias("va"),
        F.col("raw").alias("ra"),
        F.col("nrm").alias("na"),
    )
    b = member.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("vb"),
        F.col("raw").alias("rb"),
        F.col("nrm").alias("nb"),
    )
    return (
        a.join(
            b,
            (F.col("cid") == F.col("cid_b")) & (F.col("va") < F.col("vb")),
        )
        .select("cid", "vb", _dot("ra", "rb").alias("dot"), "na", "nb")
        .filter(
            (F.col("dot") > 0)
            & F.expr(
                "CAST(dot AS DECIMAL(38,0)) * CAST(dot AS DECIMAL(38,0))"
                f" * 1000000 >= {_SEM_TAU2_E6}"
                " * CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))"
            )
        )
        .select("cid", "vb")
    )


@register(
    "q_dedup_semantic",
    oracle=_semantic_oracle(),
    tags=("K2", "K", "composite"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023), exact and oracle-checked end to
    end: cluster the corpus with the integer KMeans above, then search
    for near-duplicates (cosine ≥ 0.9) ONLY WITHIN each cluster and
    count the dropped members per cluster. The fixture has no natural
    near-dups (max pairwise cosine 0.51), so the corpus plants a
    deterministic 0.99-scaled copy of every 40th vector — the planted
    pair's cosine is ≈1 and both engines quantize the SAME planted
    values, so the expected census (every planted copy dropped, zero
    false positives) is exactly verifiable. The cosine test is pure
    integer arithmetic: cos ≥ τ ⇔ dot > 0 ∧ dot²·1e6 ≥ τ²e6·na·nb,
    evaluated in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — ~5e32
    worst case, inside both 128-bit ranges.

    Scale shape — the ENTIRE point of SemDeDup: the quadratic pair
    search is scoped to clusters (Σ|c|² ≪ N²), expressed as a cid
    equi-self-join (co-partitioned shuffle, never a cross join); the
    clustering cost is q_cluster_kmeans's (map-side argmin + one
    (cid,pos) shuffle per round). At 100 TB, K grows to ~√N·α so
    clusters stay bounded, and the within-cluster join is exactly the
    shape that stays tractable."""
    points, cents = _semantic_trained(spark, sf_dir)
    # member is a single MAP-SIDE select on the pinned points:
    # cid from the literal-centroid argmin, raw carried through, norms
    # computed ONCE PER VECTOR (per-pair norm evaluation would run the
    # higher-order aggregate 2·Σ|c|² times instead of N — measured 3×
    # the whole query's cost; a vec_id re-join against the
    # unpinned corpus re-scanned the parquet — review finding)
    member = points.select(
        _best(cents)["cid"].alias("cid"),
        "vec_id",
        "raw",
        _dot("raw", "raw").alias("nrm"),
    )
    pairs = (
        _near_pairs(member).select("cid", F.col("vb").alias("dupe")).distinct()
    )
    census = member.select("cid", "vec_id")
    return (
        census.join(
            pairs, (census["cid"] == pairs["cid"])
            & (census["vec_id"] == pairs["dupe"]),
            "left",
        )
        .groupBy(census["cid"].alias("cid"))
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count(pairs["dupe"]).cast("bigint").alias("n_dupes"),
        )
    )


def _longform_dist(points_long: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cid, dist): squared distance of each long-form point to
    each broadcast centroid, one partial aggregate per (vec_id, cid)."""
    return (
        points_long.join(F.broadcast(cents), "pos")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum(
                (F.col("x") - F.col("cv")) * (F.col("x") - F.col("cv"))
            ).alias("dist")
        )
    )


def assign_longform(points_long: DataFrame, cents: DataFrame) -> DataFrame:
    """Lloyd assignment with centroids as a DATAFRAME — the production
    spelling once K reaches the hundreds: ``points_long`` is
    (vec_id, pos, x), ``cents`` is (cid, pos, cv); the K·dim centroid
    cells broadcast onto the long points, distances partial-aggregate
    per (vec_id, cid), and the per-vector argmin is min(struct) with
    the same lowest-cid tie-break as _best. The literal-expression
    spelling (_best) is analysis-bound in K (K·dim literals compiled
    per job — measured ~6 s fixed at K=16); this one is analysis-flat
    and data-parallel, at the price of a (vec_id, cid) shuffle the
    literal path never pays. Both produce IDENTICAL assignments
    (integer arithmetic; pinned by test_ml_self_oracles)."""
    return (
        _longform_dist(points_long, cents)
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid")).alias("b"))
        .select("vec_id", F.col("b.dist").alias("dist"),
                F.col("b.cid").alias("cid"))
    )


def assign_longform_soft(
    points_long: DataFrame, cents: DataFrame, p: int = 2
) -> DataFrame:
    """SOFT Lloyd assignment: each vector joins its ``p`` NEAREST
    clusters (rank 1 = the hard assignment, same lowest-cid
    tie-break), the SemDeDup mitigation for Voronoi-boundary misses —
    a near-duplicate pair split across adjacent cells at fine K
    co-occurs in one of the p probed cells instead of being silently
    unreachable by the cluster-scoped pair search. Work multiplies by
    ≤p² per cluster (measured 3.9× pairs at p=2 in
    the SemDeDup probe (since deleted, see git history), buying
    recall 0.995 → 1.0 at K=256
    while staying ~2× faster wall-clock than the coarse K=64 sweep);
    the distance aggregate is the same single (vec_id, cid) shuffle as
    ``assign_longform``, with a WindowGroupLimit top-p per vector
    instead of the min-struct argmin. Returns (vec_id, cid, rank)."""
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return (
        _longform_dist(points_long, cents)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= p)
        .select("vec_id", "cid", "rank")
    )


def _semantic_soft_oracle() -> str:
    """q_dedup_semantic's chained-CTE oracle with the FINAL assignment
    made SOFT (each vector joins its 2 nearest cells, rn <= 2 instead
    of = 1): training stays hard (the same ``_sem_training_ctes`` as
    _semantic_oracle),
    the pair search runs within every probed cell, and the census keys
    on each vector's HOME (rank-1) cluster — the SemDeDup prune
    decision: drop a member from its home cluster when a duplicate is
    found in ANY probed cell."""
    ctes = _sem_training_ctes()
    # SOFT final assignment: rank retained, top-2 cells per vector
    ctes.append(
        f"""soft AS (
        SELECT vec_id, cid, rn FROM (
            SELECT qo.vec_id, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY qo.vec_id
                       ORDER BY SUM((qo.qv - c.cv) * (qo.qv - c.cv)),
                                c.cid) AS rn
            FROM qo JOIN c{_ITERS} c ON qo.pos = c.pos
            GROUP BY qo.vec_id, c.cid)
        WHERE rn <= 2)"""
    )
    ctes.append("home AS (SELECT vec_id, cid FROM soft WHERE rn = 1)")
    ctes.append(
        f"""pairs AS (
        SELECT ab.vec_id AS dupe
        FROM soft aa JOIN soft ab
             {_SEM_NEAR_SQL})"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
    SELECT h.cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(DISTINCT p.dupe) AS BIGINT) AS n_dupes
    FROM home h LEFT JOIN (SELECT DISTINCT dupe FROM pairs) p
         ON p.dupe = h.vec_id
    GROUP BY h.cid"""
    )


@register(
    "q_dedup_semantic_soft",
    oracle=_semantic_soft_oracle(),
    tags=("K2", "K", "composite"),
)
def q_dedup_semantic_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with SOFT ASSIGNMENT in the pair search — the
    Voronoi-boundary mitigation measured by the SemDeDup probe (since
    deleted, see git history)
    (recall 0.995 → 1.0 at K=256/p=2), now a registered query with a
    full chained-CTE oracle: training iterations stay HARD (identical
    centroids to q_dedup_semantic), but each vector probes its p=2
    nearest cells in the final assignment, the within-cell pair search
    covers every probed cell, and the census keys on each vector's
    HOME (rank-1) cluster — the prune decision drops a member from its
    home cluster when a duplicate surfaces in ANY probed cell. At
    fixture K=16 the planted-dup census equals the hard query's (no
    boundary splits at this granularity — the probe shows where fine K
    needs this); what the oracle verifies beyond the hard sibling is
    the top-2 assignment itself, bit-for-bit in both engines.

    Scale shape: identical to q_dedup_semantic except Σ|c|² grows by
    ≤p² (measured 3.9× at p=2) — still a cid equi-join, never a
    cross; the long-form top-2 assignment is ONE (vec_id, cid)
    distance shuffle + WindowGroupLimit (assign_longform_soft)."""
    points, cents = _semantic_trained(spark, sf_dir)  # training stays HARD
    # soft final assignment: long form + top-2 per vector
    long = points.select("vec_id", F.posexplode("q").alias("pos", "x"))
    cents_df = local_df(
        points.sparkSession,
        [(cid, pos, cv) for cid, vec in cents for pos, cv in enumerate(vec)],
        "cid bigint, pos int, cv bigint",
    )
    assign = assign_longform_soft(long, cents_df, p=2)
    member = assign.join(
        points.select("vec_id", "raw", _dot("raw", "raw").alias("nrm")), "vec_id"
    )
    dupes = _near_pairs(member).select(F.col("vb").alias("dupe")).distinct()
    home = assign.filter(F.col("rank") == 1).select("cid", "vec_id")
    return (
        home.join(dupes, home["vec_id"] == dupes["dupe"], "left")
        .groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            F.count(dupes["dupe"]).cast("bigint").alias("n_dupes"),
        )
    )
