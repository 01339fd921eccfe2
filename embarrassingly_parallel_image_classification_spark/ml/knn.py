"""K3: similarity search over the embedding column (SURVEY.md §2-K).

Three tiers, trading recall for scale:

* ``knn_exact`` — brute force: broadcast the (small) query set against
  the corpus, cosine from the functions.vectors higher-order-function
  kernels (JVM-side but interpreted, not code-generated — see that
  module), per-query top-k via a ranking window. O(|corpus|·|queries|) but embarrassingly parallel and
  zero-shuffle on the corpus side — the correctness oracle for every
  approximate tier.
* ``knn_lsh`` — BucketedRandomProjectionLSH (random hyperplane buckets,
  seeded): sub-linear candidate generation; the 100-TB default.
* ``knn_ivf`` — inverted-file index: KMeans coarse quantizer (seeded),
  probe the nprobe nearest centroids only; candidates shrink by
  ~n_clusters/nprobe. Classic FAISS-IVF structure in pure DataFrame ops.

The ranking contract, stated here once and written once in code:

* ``_sim`` is the exact pair score: cosine(embedding, q_emb) from the
  functions.vectors kernels, rounded to 6 decimals BEFORE ranking, so a
  rank never rests on the last bits of a float sum and reproduces
  bit-for-bit across engines (DuckDB's ROUND(list_cosine_similarity, 6)).
* ``_top_k`` is the rank cut: row_number() over (qid; sim desc, vec_id
  asc), keep rank <= k. vec_id breaks every tie.
* ``knn_exact`` is the exact verifier: every approximate tier is checked
  against its answer, the pattern REPOSE (ICDE 2021) uses behind its
  pruning tiers. The tiers that re-score a candidate set go through
  ``_exact_rerank``, and the tiers whose rows carry an exact-top-k
  membership flag go through ``_recall_census``.

The other shared steps: ``_query_side`` (the (qid, q_emb) broadcast side),
``IvfIndex.probe`` (the nprobe nearest cells), ``PqIndex.shortlist`` (the
ADC cut), and ``_sign_bits``, ``_hamming_shortlist`` and
``_hamming_cascade`` (the 1-bit tier).

The oracles share their CTE text through oracle-only fragments, each
the DuckDB twin of one step above: ``_EXACT_TOPK_SQL`` (the
``knn_exact`` verifier of ``_recall_census``), ``_SIGN_BITS_SQL``
(``_sign_bits`` and the query signatures), ``_HAMMING_SHORT_SQL`` (the
overfetched Hamming cut) and ``_cascade_sql`` (``_exact_rerank``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot, l2_dist_sq, norm
from ..localframe import local_df, pin
from ..registry import register
from ..sources.tables import t

N_QUERIES = 5  # fixture query set: vec_id < 5
TOP_K = 3

_KNN_ORACLE = f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         scored AS (
           SELECT q.qid, e.vec_id,
                  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS sim
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.qid
         )
    SELECT qid, vec_id, sim, rank FROM (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


def _sim(c_norm: Column | None = None, q_norm: Column | None = None) -> Column:
    """The exact pair score of `embedding` against `q_emb`, rounded to 6
    decimals: cosine's spelling dot / nullif(norm_c * norm_q, 0) on the
    same double operands. A frame that carries precomputed norms passes
    them (knn_exact); otherwise each pair folds both norms."""
    c_norm = norm("embedding") if c_norm is None else c_norm
    q_norm = norm("q_emb") if q_norm is None else q_norm
    return F.round(dot("embedding", "q_emb") / F.nullif(c_norm * q_norm, F.lit(0.0)), 6)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The rank cut: `scored` plus rank = row_number() over (qid; sim
    desc, vec_id asc), rows with rank <= k."""
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _query_side(queries: DataFrame) -> DataFrame:
    """(qid, q_emb): the query vectors as the broadcast side of a pair
    cross."""
    return queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("q_emb"))


def knn_exact(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be small (it is broadcast). Excludes self-matches.
    Returns (qid, vec_id, *carry, sim, rank) — ``carry`` names extra
    corpus columns passed through to the result (q_knn_filtered rides
    its metadata column this way).

    r12: each side's norm is computed ONCE PER ROW before the pair
    cross (the inlined cosine() recomputed both 64-element norm folds
    per PAIR — 3x the expression work for |corpus|·|queries| pairs);
    ``_sim`` takes the two norm columns, so every sim bit is the one the
    per-pair spelling gives."""
    q = _query_side(queries).withColumn("__q_norm", norm("q_emb"))
    pairs = (
        corpus.withColumn("__c_norm", norm("embedding"))
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
    )
    scored = pairs.select(
        "qid", "vec_id", *carry, _sim(F.col("__c_norm"), F.col("__q_norm")).alias("sim")
    )
    return _top_k(scored, k)


@register(
    "q_knn_exact",
    oracle=_KNN_ORACLE,
    tags=("K3", "C7", "F3"),
)
def q_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first 5 vectors as queries."""
    emb = t(spark, sf_dir, "embeddings")
    return knn_exact(emb, emb.filter(F.col("vec_id") < N_QUERIES), TOP_K)


def knn_exact_pandas(corpus: DataFrame, queries: DataFrame, k: int = TOP_K) -> DataFrame:
    """Exact kNN as a tournament: NumPy-vectorized cosine inside
    mapInPandas emits only each PARTITION's top-k per query, then one
    tiny window merges partials — at 100 TB the shuffle carries
    k·partitions rows instead of |corpus|·|queries| pair scores.

    Must return exactly knn_exact's answer (asserted in tests); the two
    formulations trade JVM-side expression eval (zip_with cosine)
    against Arrow-batched BLAS — pick by profiling, semantics identical.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select("vec_id", "embedding").collect()  # small by contract
    q_ids = np.array([r["vec_id"] for r in q_rows])
    Q = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in q_rows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def partial_topk(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            sims = Xn @ Qn.T  # |batch| × |queries|
            ids = pdf["vec_id"].to_numpy()
            out = []
            for j, qid in enumerate(q_ids):
                mask = ids != qid
                # The module's ranking order, so the partition partial
                # provably contains every global top-k member.
                # Sign-aware HALF-UP (np.round is half-even, Spark's
                # F.round is half-up); sims within ~1 ulp of a 1e-6
                # boundary can still legitimately differ from the
                # zip_with path's sequential accumulation.
                raw = sims[:, j][mask]
                col = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
                mids = ids[mask]
                cand = np.lexsort((mids, -col))[:k]
                out.append(
                    pd.DataFrame({"qid": qid, "vec_id": mids[cand], "sim": col[cand]})
                )
            if out:
                yield pd.concat(out)

    partials = corpus.select("vec_id", "embedding").mapInPandas(
        partial_topk, "qid long, vec_id long, sim double"
    )
    # Round at the merge (JVM round, same as knn_exact) so the final
    # ranking uses identical keys to the SQL formulation; partial
    # selection inside numpy is unrounded, which can only disagree on
    # round-6 ties straddling a partition's top-k cutoff (asserted
    # absent on the fixture by the row-for-row equality test).
    return _top_k(partials.withColumn("sim", F.round("sim", 6)), k)


@register("q_knn_exact_pandas", oracle=_KNN_ORACLE, tags=("K3", "J6"))
def q_knn_exact_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tournament top-k kNN (partition partials → merge); equals
    q_knn_exact row-for-row (tests/test_ml_self_oracles.py), so it
    shares q_knn_exact's oracle — NumPy BLAS cosine and the DuckDB
    list_cosine_similarity agree at round-6 on every pair."""
    emb = t(spark, sf_dir, "embeddings")
    return knn_exact_pandas(emb, emb.filter(F.col("vec_id") < N_QUERIES))


def _to_vec(df: DataFrame, in_col: str = "embedding", out_col: str = "features") -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(out_col, array_to_vector(F.col(in_col).cast("array<double>")))


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    bucket_length: float = 2.0,
    num_tables: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane bucketing (seeded).

    approxSimilarityJoin only compares vectors sharing a hash bucket —
    the join is on bucket id, so the candidate set (not the corpus)
    drives cost. Distance is L2; results re-ranked per query.
    """
    from pyspark.ml.feature import BucketedRandomProjectionLSH

    c = _to_vec(corpus)
    q = _to_vec(queries).select(
        F.col("vec_id").alias("qid"), F.col("features").alias("q_features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    ).fit(c)
    joined = model.approxSimilarityJoin(
        c, q.withColumnRenamed("q_features", "features"), float("inf"), distCol="dist"
    )
    pairs = joined.select(
        F.col("datasetB.qid").alias("qid"),
        F.col("datasetA.vec_id").alias("vec_id"),
        F.round(F.col("dist"), 6).alias("dist"),
    ).filter(F.col("vec_id") != F.col("qid"))
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


@register("q_knn_lsh", oracle=None, tags=("K3", "rows-only"))
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate kNN (seeded; engine-specific buckets ⇒
    rows-only). Recall vs knn_exact is asserted in tests/test_ml_self_oracles.py."""
    emb = t(spark, sf_dir, "embeddings")
    return knn_lsh(emb, emb.filter(F.col("vec_id") < N_QUERIES))


class IvfIndex:
    """Inverted-file ANN index: KMeans coarse quantizer + cell-assigned
    corpus (classic FAISS-IVF structure in pure DataFrame ops).

    ``build`` is the expensive phase — one seeded KMeans fit plus one
    pass assigning every corpus vector to its cell; the assigned corpus
    is cached (at 100 TB it would be WRITTEN bucketed by cell, so a
    probe's scan prunes to ~nprobe/n_clusters of the data). ``query``
    is the cheap repeatable phase, mirroring how ANN systems separate
    index build from search.
    """

    def __init__(self, corpus: DataFrame, n_clusters: int = 16, seed: int = 42):
        from pyspark.ml.clustering import KMeans

        # Cache the vectorized corpus: KMeans is iterative, and without
        # this every iteration re-runs the scan + array_to_vector UDF
        # (measured 25× slower at sf0.1). At 100 TB, fit on a sample —
        # the quantizer doesn't need every row.
        c = _to_vec(corpus).cache()
        self.km = KMeans(k=n_clusters, seed=seed, maxIter=10, featuresCol="features").fit(c)
        self.assigned = (
            self.km.transform(c).withColumnRenamed("prediction", "cell").cache()
        )
        self.assigned.count()  # materialize the index
        c.unpersist()
        cents = [
            (int(i), [float(x) for x in ctr])
            for i, ctr in enumerate(self.km.clusterCenters())
        ]
        self.cent_df = local_df(
            corpus.sparkSession, cents, "cell int, centroid array<double>"
        )

    def probe(self, queries: DataFrame, nprobe: int) -> DataFrame:
        """(qid, q_emb, cell): each query's nprobe nearest cells by L2²
        to the centroid, ties on cell."""
        w = Window.partitionBy("qid").orderBy(F.asc("cdist"), F.asc("cell"))
        return (
            _query_side(queries)
            .crossJoin(F.broadcast(self.cent_df))
            .withColumn("cdist", l2_dist_sq("q_emb", "centroid"))
            .withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") <= nprobe)
            .select("qid", "q_emb", "cell")
        )

    def query(self, queries: DataFrame, k: int = TOP_K, nprobe: int = 4) -> DataFrame:
        cands = self.assigned.join(F.broadcast(self.probe(queries, nprobe)), "cell").filter(
            F.col("vec_id") != F.col("qid")
        )
        return _top_k(cands.select("qid", "vec_id", _sim().alias("sim")), k)


_IVF_CACHE: dict[tuple[str, str], IvfIndex] = {}


def ensure_ivf_index(spark: SparkSession, sf_dir: str) -> IvfIndex:
    """Build (or fetch) the session's IVF index for ``sf_dir``.

    Index BUILD is a one-off phase distinct from search — every ANN
    system separates them. bench.py calls this from its untimed warmup
    so the timed q_knn_ivf passes measure search, not quantizer
    training (round-1 bench red: 14.6 s with build misattributed)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVF_CACHE.get(key)
    if idx is None:
        idx = _IVF_CACHE[key] = IvfIndex(t(spark, sf_dir, "embeddings"))
    return idx


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    n_clusters: int = 16,
    nprobe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """One-shot convenience: build an IvfIndex and query it."""
    return IvfIndex(corpus, n_clusters, seed).query(queries, k, nprobe)


@register("q_knn_ivf", oracle=None, tags=("K3", "rows-only"))
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (cluster-pruned) approximate kNN — the scale path. The index
    is built once per (session, sf_dir) and reused (build/search
    separation, as any ANN system does); the cache key includes the
    application id because a cached index holds DataFrames bound to the
    session that built it. Results are deterministic (seeded)."""
    emb = t(spark, sf_dir, "embeddings")
    idx = ensure_ivf_index(spark, sf_dir)
    return idx.query(emb.filter(F.col("vec_id") < N_QUERIES))


class PqIndex:
    """Product-quantization index (Jégou et al., "Product Quantization
    for Nearest Neighbor Search", TPAMI'11) — the MEMORY story of
    100-TB ANN that IVF alone doesn't tell: each d-dim float vector is
    compressed to M sub-codes (here M=8 subspaces × 16 centroids = 8×4
    bits = 4 bytes/vector vs 512 bytes of float64 — 128×), and search
    scores candidates from the codes alone via an ADC (asymmetric
    distance computation) lookup table, never touching the raw
    embeddings until an exact re-rank of the shortlist.

    Build: one seeded KMeans per subspace over the corpus' subvectors
    (at 100 TB: fit on a sample, encode the full corpus in one pass);
    the encoded corpus carries the packed codes array plus WIDE int
    code columns (the scan layout) — the only thing search scans.

    Search: the per-query distance table (M × ks partial L2² values,
    computed driver-side from the tiny codebook) is broadcast as one
    (qid, tbl) row and the ADC distance is M chained ``element_at``
    lookups over the wide code columns — a whole-stage-codegen
    expression reading the table in place inside the join stage
    (see adc_expr for the three slower spellings this replaced,
    measured by the ANN probe, since deleted, see git history). The
    top ``shortlist`` per
    query is then re-ranked with EXACT cosine on the raw vectors —
    the standard two-stage retrieve-then-rerank, so recall depends on
    shortlist size, not on quantization alone.

    Simplification vs FAISS IVFPQ: codes quantize raw vectors, not
    IVF-cell residuals; composing with IvfIndex's cell pruning is the
    documented production shape (probe cells → ADC-score only those
    candidates).
    """

    def __init__(self, corpus: DataFrame, m: int = 8, ks: int = 16, seed: int = 42):
        import numpy as np
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        self.m, self.ks = m, ks
        dim = len(corpus.select("embedding").first()["embedding"])
        assert dim % m == 0, (dim, m)
        self.sub = dim // m
        enc = corpus
        self.codebooks = []  # list of (ks, sub) float arrays
        for j in range(m):
            sub_col = array_to_vector(
                F.slice("embedding", j * self.sub + 1, self.sub)
            )
            km = KMeans(
                k=ks, seed=seed + j, maxIter=10, featuresCol="__subv"
            ).fit(enc.select(sub_col.alias("__subv")))
            self.codebooks.append(
                np.array([list(c) for c in km.clusterCenters()])
            )
            enc = (
                km.transform(enc.withColumn("__subv", sub_col))
                .withColumnRenamed("prediction", f"__c{j}")
                .drop("__subv")
            )
        # codes kept BOTH ways: the `codes` array is the compressed
        # representation (the 4-byte story; what a table write would
        # pack), the __c0..__c{m-1} int columns are the SCAN layout —
        # per-column Arrow transfer into the ADC kernel is vectorized,
        # where stacking 25M tiny python lists measured ~25 s of pure
        # object-conversion overhead at the 200k probe
        self.encoded = pin(
            enc.select(
                "vec_id",
                F.array(*[F.col(f"__c{j}").cast("int") for j in range(m)]).alias("codes"),
                *[F.col(f"__c{j}").cast("int").alias(f"c{j}") for j in range(m)],
            ),
            "PqIndex.encoded",
        )

    def _query_tables(self, queries: DataFrame):
        """Per-query flat ADC table {qid: (m·ks,) float64} where
        tbl[j·ks + c] = ‖q_subⱼ − codebookⱼ[c]‖² (Jégou'11). 128
        doubles per query here — the whole query set's tables are a
        closure-shipped dict (|Q|·1 KB), never a per-row join payload."""
        import numpy as np

        tables = {}
        for r in queries.select("vec_id", "embedding").collect():  # small by contract
            qv = np.asarray(r["embedding"], dtype=np.float64)
            flat = np.empty(self.m * self.ks, dtype=np.float64)
            for j in range(self.m):
                sub = qv[j * self.sub : (j + 1) * self.sub]
                flat[j * self.ks : (j + 1) * self.ks] = (
                    (self.codebooks[j] - sub) ** 2
                ).sum(axis=1)
            tables[int(r["vec_id"])] = flat
        return tables

    def _adc_table_df(self, queries: DataFrame) -> DataFrame:
        """The per-query tables as a broadcastable (qid, tbl) frame."""
        tables = self._query_tables(queries)
        spark = queries.sparkSession
        return local_df(
            spark,
            [(q, tables[q].tolist()) for q in sorted(tables)],
            "qid bigint, tbl array<double>",
        )

    def adc_expr(self):
        """Σⱼ tbl[j·ks + cⱼ] over the WIDE int code columns — m
        ElementAt lookups chained with Add, every node whole-stage-
        codegen-supported, so the broadcast-joined tbl array is read in
        place inside the join's codegen stage and only three scalars
        leave it. Spellings measured at the 200k-vector/500-query probe
        (the ANN probe, since deleted, see git history; IVFPQ
        search): posexplode×m + per-
        subcode broadcast join + groupBy = 33 s (the explode multiplies
        the candidate stream ×m AND shuffles the aggregate); zip_with/
        aggregate HOFs over a joined tbl = 41 s (HOFs fall out of
        codegen — every row materializes a 1 KB table copy); Arrow →
        NumPy take_along_axis = 44 s (the 25M-row Python boundary
        costs more than the 8-lookup compute); this = 6 s."""
        ks = self.ks
        expr = None
        for j in range(self.m):
            term = F.element_at("tbl", F.col(f"c{j}") + (j * ks + 1))
            expr = term if expr is None else expr + term
        return expr

    def shortlist(self, pairs: DataFrame, n: int) -> DataFrame:
        """(qid, vec_id): each query's n ADC-nearest candidates, ties on
        vec_id. `pairs` holds (qid, vec_id, tbl, c0..c{m-1}) per
        candidate: the coded row beside its query's table."""
        w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"), F.asc("vec_id"))
        return (
            pairs.select("qid", "vec_id", self.adc_expr().alias("adc_dist"))
            .withColumn("srank", F.row_number().over(w))
            .filter(F.col("srank") <= n)
            .select("qid", "vec_id")
        )

    def query(
        self, queries: DataFrame, k: int = TOP_K, shortlist: int = 50
    ) -> DataFrame:
        tdf = self._adc_table_df(queries)
        pairs = self.encoded.crossJoin(F.broadcast(tdf)).filter(
            F.col("vec_id") != F.col("qid")
        )
        return self.shortlist(pairs, shortlist)


_PQ_CACHE: dict[tuple[str, str], "PqIndex"] = {}


def ensure_pq_index(spark: SparkSession, sf_dir: str) -> "PqIndex":
    """Build (or fetch) the session's PQ index for ``sf_dir`` — same
    build/search separation and cache policy as ensure_ivf_index (the
    8 per-subspace KMeans fits are one-off index construction)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _PQ_CACHE.get(key)
    if idx is None:
        idx = _PQ_CACHE[key] = PqIndex(t(spark, sf_dir, "embeddings"))
    return idx


def _exact_rerank(
    short: DataFrame, corpus: DataFrame, queries: DataFrame, k: int
) -> DataFrame:
    """The retrieve-then-rerank tail of every candidate tier (PQ, IVFPQ,
    the Hamming cascade): join the (qid, vec_id) shortlist back to the
    raw vectors, score each pair exactly and cut to the top k —
    (qid, vec_id, sim, rank) like knn_exact."""
    rer = (
        short.join(corpus, "vec_id")
        .join(F.broadcast(_query_side(queries)), "qid")
        .select("qid", "vec_id", _sim().alias("sim"))
    )
    return _top_k(rer, k)


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    shortlist: int = 50,
    m: int = 8,
    ks: int = 16,
    seed: int = 42,
    index: "PqIndex | None" = None,
) -> DataFrame:
    """PQ shortlist + exact cosine re-rank: retrieve `shortlist`
    candidates per query from 4-byte codes (ADC), then rank only those
    with the exact kernel — (qid, vec_id, sim, rank) like knn_exact."""
    idx = index if index is not None else PqIndex(corpus, m=m, ks=ks, seed=seed)
    short = idx.query(queries, k=k, shortlist=shortlist)
    return _exact_rerank(short, corpus, queries, k)


@register("q_knn_pq", oracle=None, tags=("K3", "rows-only"))
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-compressed ANN (retrieve-then-rerank): candidates come from
    4-byte PQ codes via an ADC table join — at 100 TB the scored scan
    is 128× smaller than the raw embeddings — then the shortlist is
    re-ranked exactly. Seeded KMeans codebooks ⇒ engine-specific
    buckets ⇒ rows-only; recall vs knn_exact pinned in
    tests/test_approx.py. Index build is cached per (session, sf_dir)
    like the IVF index."""
    emb = t(spark, sf_dir, "embeddings")
    return knn_pq(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        index=ensure_pq_index(spark, sf_dir),
    )


class IvfPqIndex:
    """IVFPQ: the IVF coarse quantizer composed with PQ codes — the
    production ANN shape PqIndex's docstring names (FAISS IVFPQ;
    Jégou'11 §IV). Search touches three successively smaller sets:
    probe nprobe cells (prunes the corpus ~n_clusters/nprobe), ADC-score
    ONLY the coded rows in those cells (4-byte codes, never the raw
    vectors), exact-rerank the shortlist. At 100 TB the coded corpus is
    written bucketed by cell, so the probe is a partition-pruned scan of
    compressed codes — the raw embeddings are read only for shortlist ×
    |queries| rows.

    Simplification kept from PqIndex: codes quantize RAW vectors, not
    per-cell residuals, so the two quantizers compose by a plain join
    on vec_id at build. The residual-encoded production shape (true
    FAISS IVFADC) is IvfPqResidualIndex below — measured on the
    fixture: residual recall reaches the IVF probe ceiling where raw
    codes fall short of it (tests/test_approx.py)."""

    def __init__(
        self,
        corpus: DataFrame,
        n_clusters: int = 16,
        m: int = 8,
        ks: int = 16,
        seed: int = 42,
        ivf: "IvfIndex | None" = None,
        pq: "PqIndex | None" = None,
    ):
        self.ivf = ivf if ivf is not None else IvfIndex(corpus, n_clusters, seed)
        self.pq = pq if pq is not None else PqIndex(corpus, m=m, ks=ks, seed=seed)
        # build-phase join: attach each vector's cell to its codes once
        # (at scale this is the bucketed-by-cell write of the code table).
        # REPIN parallelism before pinning: the code table is tiny
        # in bytes, so AQE coalesces the join's shuffle output (measured:
        # 2 partitions for 200k rows at the ann_probe scale) — but the
        # downstream cell join amplifies ×|queries probing each cell|,
        # and the search would inherit the 2-partition layout and sort
        # 12M-row partitions on 2 cores (search was 24 s vs IVF's 23 s
        # until this line; 6 s after). AQE sizes by pre-amplification
        # bytes — any amplifying consumer must re-spread its input.
        self.coded = pin(
            self.ivf.assigned.select("vec_id", "cell")
            .join(self.pq.encoded, "vec_id")
            .repartition(corpus.sparkSession.sparkContext.defaultParallelism),
            "IvfPqIndex.coded",
        )

    def candidates(self, queries: DataFrame, nprobe: int = 4) -> DataFrame:
        """Cell-pruned coded candidates per query — the frame the ADC
        join scores. Exposed separately so tests can assert the pruning
        ratio and plan shape."""
        q_cells = self.ivf.probe(queries, nprobe).select("qid", "cell")
        # cell pruning FIRST: only coded rows in a probed cell ever
        # reach the ADC scoring join
        return self.coded.join(F.broadcast(q_cells), "cell").filter(
            F.col("vec_id") != F.col("qid")
        )

    def query(
        self,
        queries: DataFrame,
        k: int = TOP_K,
        nprobe: int = 4,
        shortlist: int = 50,
    ) -> DataFrame:
        tdf = self.pq._adc_table_df(queries)
        pairs = self.candidates(queries, nprobe).join(F.broadcast(tdf), "qid")
        return self.pq.shortlist(pairs, shortlist)


_IVFPQ_CACHE: dict[tuple[str, str], "IvfPqIndex"] = {}


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> "IvfPqIndex":
    """Build (or fetch) the session's IVFPQ index — composes the CACHED
    IVF and PQ indexes (both one-off builds) with one join."""
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVFPQ_CACHE.get(key)
    if idx is None:
        corpus = t(spark, sf_dir, "embeddings")
        idx = _IVFPQ_CACHE[key] = IvfPqIndex(
            corpus,
            ivf=ensure_ivf_index(spark, sf_dir),
            pq=ensure_pq_index(spark, sf_dir),
        )
    return idx


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = 4,
    shortlist: int = 50,
    index: "IvfPqIndex | None" = None,
) -> DataFrame:
    """IVFPQ search: probe cells → ADC-score only those candidates →
    exact cosine re-rank of the shortlist. Same output contract as
    knn_exact: (qid, vec_id, sim, rank)."""
    idx = index if index is not None else IvfPqIndex(corpus)
    short = idx.query(queries, k=k, nprobe=nprobe, shortlist=shortlist)
    return _exact_rerank(short, corpus, queries, k)


@register("q_knn_ivfpq", oracle=None, tags=("K3", "K7", "rows-only"))
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ approximate kNN — cell pruning AND 128× code compression
    composed (the FAISS-IVFPQ production shape): the ADC join scores
    only coded rows inside probed cells, then the shortlist re-ranks
    exactly. Seeded KMeans quantizers ⇒ rows-only; recall vs exact and
    vs IVF-alone at equal candidate budget is pinned in
    tests/test_approx.py, the cell-pruned plan in tests/test_plans.py."""
    emb = t(spark, sf_dir, "embeddings")
    return knn_ivfpq(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        index=ensure_ivfpq_index(spark, sf_dir),
    )


def pca_project(corpus: DataFrame, k: int = 8) -> tuple[DataFrame, list]:
    """PCA-compress the embedding column to ``k`` dims (MLlib PCA over
    the corpus; at 100 TB the covariance accumulates as one treeAggregate
    of d×d outer products — d=64 here, so the reduced matrix is tiny
    regardless of row count). Returns (projected DataFrame, loadings as
    k lists). Deterministic up to sign; a sign convention (largest-
    magnitude component of each loading made positive) pins the
    output so repeated builds agree."""
    import numpy as np
    from pyspark.ml.feature import PCA

    c = _to_vec(corpus)
    model = PCA(k=k, inputCol="features", outputCol="pca").fit(c)
    pc = np.array(model.pc.toArray())  # (d, k)
    signs = np.sign(pc[np.abs(pc).argmax(axis=0), np.arange(pc.shape[1])])
    signs[signs == 0] = 1.0
    from pyspark.ml.functions import vector_to_array

    projected = model.transform(c).select(
        "vec_id",
        vector_to_array("pca").alias("raw_proj"),
    )
    sign_arr = F.array(*[F.lit(float(s)) for s in signs])
    projected = projected.select(
        "vec_id",
        F.zip_with("raw_proj", sign_arr, lambda a, b: F.round(a * b, 6)).alias(
            "proj"
        ),
    )
    loadings = (pc * signs).T.tolist()  # k rows of d loadings
    return projected, loadings


@register("q_embed_pca", oracle=None, tags=("K3", "K7", "rows-only"))
def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA embedding compression (64 → 8 dims) — the preprocessing
    step before ANN indexing that trades dimensionality for index
    cost. Rows-only (eigensolver results are engine-specific floats);
    orthonormality, variance ordering, and agreement with a NumPy
    eigendecomposition are pinned in tests/test_ml_self_oracles.py.

    Output is posexploded to SCALAR (vec_id, component, value) rows:
    the driver's rows-only canonicalizer sorts the raw frame before
    recording and an ARRAY cell crashes it (the round-10
    q_agg_approx_percentile red; drive_contract's sortability guard
    now covers rows-only queries and flagged this one)."""
    emb = t(spark, sf_dir, "embeddings")
    projected, _ = pca_project(emb, k=8)
    return (
        projected.orderBy("vec_id")
        .limit(100)
        .select("vec_id", F.posexplode("proj").alias("component", "value"))
        .select(
            "vec_id",
            F.col("component").cast("bigint").alias("component"),
            F.col("value").cast("double").alias("value"),
        )
    )


_HARD_NEG_QUERIES = 20


@register(
    "q_mine_hard_negatives",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS q_label,
               CAST(embedding AS DOUBLE[]) AS q_emb
        FROM embeddings WHERE vec_id < {_HARD_NEG_QUERIES}
    ),
    scored AS (
        SELECT q.qid, e.vec_id, e.label,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                            q.q_emb), 6) AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.label <> q.q_label
    )
    SELECT qid, vec_id, label, sim, rank FROM (
        SELECT qid, vec_id, label, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
    tags=("K3", "J1", "composite"),
)
def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the contrastive-training data-prep step
    that turns a similarity index into better training batches: for
    each anchor, the top-k most-similar vectors with a DIFFERENT
    label (near the anchor in embedding space but semantically wrong —
    exactly the negatives that produce gradient signal; random
    negatives are trivially separable). Same plan family as
    q_knn_exact: anchors broadcast against the corpus scan, e6-rounded
    cosine, per-anchor top-k as a WindowGroupLimit — the label
    inequality rides the broadcast join condition, so the only change
    vs plain kNN is one predicate. At 100 TB the anchor set shards and
    the corpus side reuses the IVF/PQ tiers (mine negatives from
    probed cells only — the standard recipe)."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _HARD_NEG_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select("qid", "vec_id", "label", _sim().alias("sim"))
    )
    return _top_k(scored, TOP_K)


class IvfPqResidualIndex:
    """IVFADC with RESIDUAL encoding — the exact FAISS IVFPQ shape
    (Jégou'11 §IV.A), closing IvfPqIndex's documented simplification:
    PQ codes quantize r = v − centroid(cell(v)) instead of the raw
    vector. Residuals concentrate near zero, so the same 4-byte
    budget spends its 16 centroids per subspace on a much tighter
    distribution — the reason every production IVFPQ encodes
    residuals. The ADC identity stays exact: with y ≈ c + q(r),
    ‖q − y‖² = ‖(q − c) − q(r)‖², so search builds the distance table
    from the QUERY's residual against each probed cell — one table
    per (query, cell), still tiny (nprobe × 1 KB per query),
    broadcast like before.

    Build: one zip_with subtract against the broadcast centroid frame
    (pinned once — the m per-subspace KMeans fits iterate over
    it), then PqIndex unchanged on the residual frame. Search: probed
    cells and per-(qid, cell) tables are computed driver-side from the
    tiny centroid/codebook arrays (queries small by contract — the
    same bounded collect as PqIndex._query_tables), then ONE broadcast
    join on cell both prunes and attaches the right table, and the
    identical codegen ADC expression scores the coded rows."""

    def __init__(
        self,
        corpus: DataFrame,
        n_clusters: int = 16,
        m: int = 8,
        ks: int = 16,
        seed: int = 42,
        ivf: "IvfIndex | None" = None,
    ):
        import numpy as np

        self.ivf = ivf if ivf is not None else IvfIndex(corpus, n_clusters, seed)
        self.cents = {
            int(r["cell"]): np.asarray(r["centroid"], dtype=np.float64)
            for r in self.ivf.cent_df.collect()  # tiny: n_clusters rows
        }
        # m KMeans fits iterate over it
        resid = pin(
            corpus.select("vec_id", "embedding")
            .join(self.ivf.assigned.select("vec_id", "cell"), "vec_id")
            .join(F.broadcast(self.ivf.cent_df), "cell")
            .select(
                "vec_id",
                "cell",
                F.zip_with(
                    "embedding", "centroid", lambda a, b: a - b
                ).alias("embedding"),
            ),
            "IvfPqResidualIndex.resid",
        )
        self.pq = PqIndex(resid.select("vec_id", "embedding"), m=m, ks=ks, seed=seed)
        self.coded = pin(
            resid.select("vec_id", "cell")
            .join(self.pq.encoded, "vec_id")
            .repartition(corpus.sparkSession.sparkContext.defaultParallelism),
            "IvfPqResidualIndex.coded",
        )

    def _residual_tables(self, queries: DataFrame, nprobe: int):
        """Driver-side probe + table build: for each query, its nprobe
        nearest cells (dist asc, cell asc — the same total order the
        DataFrame spelling uses) and the flat ADC table of the query's
        residual against THAT cell's subspace codebooks."""
        import numpy as np

        cell_ids = np.array(sorted(self.cents), dtype=np.int64)
        C = np.stack([self.cents[int(c)] for c in cell_ids])
        m, ks, sub = self.pq.m, self.pq.ks, self.pq.sub
        rows = []
        for r in queries.select("vec_id", "embedding").collect():  # small by contract
            qv = np.asarray(r["embedding"], dtype=np.float64)
            d = ((C - qv) ** 2).sum(axis=1)
            probe = np.lexsort((cell_ids, d))[:nprobe]
            for ci in probe:
                cell = int(cell_ids[ci])
                rq = qv - self.cents[cell]
                flat = np.empty(m * ks, dtype=np.float64)
                for j in range(m):
                    s = rq[j * sub : (j + 1) * sub]
                    flat[j * ks : (j + 1) * ks] = (
                        (self.pq.codebooks[j] - s) ** 2
                    ).sum(axis=1)
                rows.append((int(r["vec_id"]), cell, flat.tolist()))
        return local_df(
            queries.sparkSession, rows, "qid bigint, cell int, tbl array<double>"
        )

    def query(
        self,
        queries: DataFrame,
        k: int = TOP_K,
        nprobe: int = 4,
        shortlist: int = 50,
    ) -> DataFrame:
        tdf = self._residual_tables(queries, nprobe)
        # ONE broadcast join on cell = pruning AND table attachment:
        # only coded rows in a probed cell reach the codegen ADC expr
        pairs = self.coded.join(F.broadcast(tdf), "cell").filter(
            F.col("vec_id") != F.col("qid")
        )
        return self.pq.shortlist(pairs, shortlist)


_IVFPQR_CACHE: dict[tuple[str, str], "IvfPqResidualIndex"] = {}


def ensure_ivfpq_residual_index(
    spark: SparkSession, sf_dir: str
) -> "IvfPqResidualIndex":
    """Build (or fetch) the session's residual-IVFPQ index; reuses the
    cached coarse quantizer (the residual PQ codebooks are its own)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    idx = _IVFPQR_CACHE.get(key)
    if idx is None:
        corpus = t(spark, sf_dir, "embeddings")
        idx = _IVFPQR_CACHE[key] = IvfPqResidualIndex(
            corpus, ivf=ensure_ivf_index(spark, sf_dir)
        )
    return idx


def knn_ivfpq_residual(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = 4,
    shortlist: int = 50,
    index: "IvfPqResidualIndex | None" = None,
) -> DataFrame:
    """Residual-encoded IVFPQ search (IVFADC): probe cells → ADC-score
    residual codes with per-(query, cell) tables → exact re-rank.
    Same output contract as knn_exact: (qid, vec_id, sim, rank)."""
    idx = index if index is not None else IvfPqResidualIndex(corpus)
    short = idx.query(queries, k=k, nprobe=nprobe, shortlist=shortlist)
    return _exact_rerank(short, corpus, queries, k)


@register("q_knn_ivfpq_residual", oracle=None, tags=("K3", "K7", "rows-only"))
def q_knn_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — residual-encoded IVFPQ, the exact production shape
    (codes quantize v − centroid, per-(query, cell) ADC tables):
    closes the documented simplification of q_knn_ivfpq. Seeded
    KMeans ⇒ rows-only; recall vs exact, vs raw-code IVFPQ at equal
    budget, and the single-join prune+score plan are pinned in
    tests/test_approx.py."""
    emb = t(spark, sf_dir, "embeddings")
    return knn_ivfpq_residual(
        emb,
        emb.filter(F.col("vec_id") < N_QUERIES),
        index=ensure_ivfpq_residual_index(spark, sf_dir),
    )


_FILTER_ORACLE = f"""
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         scored AS (
           SELECT q.qid, e.vec_id, e.label,
                  ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                               q.q_emb), 6) AS sim
           FROM embeddings e CROSS JOIN q
           WHERE e.vec_id <> q.qid AND e.label % 2 = 0
         )
    SELECT qid, vec_id, CAST(label AS BIGINT) AS label, sim, rank FROM (
        SELECT qid, vec_id, label, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


@register("q_knn_filtered", oracle=_FILTER_ORACLE, tags=("K3", "B2", "F3"))
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-k among only the vectors passing a
    metadata predicate (here label % 2 = 0; in production a tenant,
    language, or license filter), the composition every vector store
    has to get right [PK — pgvector/Milvus/Lucene filtered-ANN]. This
    is the PRE-FILTER spelling: the predicate applies BEFORE scoring,
    so recall is exact by construction and the scan does less work —
    correct whenever the predicate is Catalyst-pushable (here it
    reaches the parquet scan as a pushed filter). The alternatives and
    the crossover are the docstring's point at 100 TB: POST-FILTER ANN
    (probe the index, then filter) loses recall as selectivity drops
    (top-k may be entirely filtered away — the k·1/selectivity
    over-fetch rule of thumb), while pre-filter on an IVF index means
    per-cell predicate evaluation; production engines switch on
    estimated selectivity (pre-filter when selective, over-fetch
    post-filter when not). The exact pre-filter tier here is BOTH the
    high-selectivity production path AND the recall oracle for any
    approximate filtered tier."""
    emb = t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("label") % 2 == 0).withColumn(
        "label", F.col("label").cast("bigint")
    )
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    return knn_exact(corpus, queries, TOP_K, carry=("label",))


def ivf_query_postfilter(
    idx: IvfIndex,
    queries: DataFrame,
    predicate,
    k: int = TOP_K,
    nprobe: int = 4,
    overfetch: int = 4,
) -> DataFrame:
    """POST-FILTER filtered ANN — the low-selectivity counterpart of
    q_knn_filtered's pre-filter tier: probe the IVF index for the top
    ``k·overfetch`` candidates IGNORING the predicate, then filter and
    keep the top k survivors. This is what production vector stores do
    when the predicate is NOT selective enough to pre-filter cheaply:
    the index scan stays predicate-blind (no per-cell predicate
    evaluation), and the over-fetch factor compensates for survivors
    lost to the filter — the k/selectivity rule of thumb. The failure
    mode is structural and measured in tests/test_ml_self_oracles.py:
    at overfetch=1 every fetched neighbor can fail the predicate and
    recall collapses; raising overfetch recovers it at linearly more
    re-rank work (never more index work: the probe set is unchanged).
    Returns (qid, vec_id, sim, rank) among survivors."""
    fetched = idx.query(queries, k=k * overfetch, nprobe=nprobe)
    return _top_k(fetched.filter(predicate).select("qid", "vec_id", "sim"), k)


@register("q_knn_ivf_filtered", oracle=None, tags=("K3", "B2", "rows-only"))
def q_knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN, POST-FILTER tier (rows-only by nature: IVF is
    probe-approximate) — the scale path when the metadata predicate is
    not selective enough for q_knn_filtered's exact pre-filter: fetch
    k·overfetch predicate-blind candidates from the IVF index, filter,
    keep top-k. Recall vs the exact pre-filter tier is pinned in
    tests/test_ml_self_oracles.py including the overfetch=1 collapse
    that motivates the over-fetch rule."""
    emb = t(spark, sf_dir, "embeddings")
    idx = ensure_ivf_index(spark, sf_dir)
    # vec_id parity stands in for the metadata predicate (label lives
    # on the corpus side of the index; the fetched frame carries
    # vec_id, so the demo predicate keys on it)
    return ivf_query_postfilter(
        idx,
        emb.filter(F.col("vec_id") < N_QUERIES),
        F.col("vec_id") % 2 == 0,
        overfetch=4,
    )


# kNN-classifier fixture: 20 held-out queries, 5 voting neighbors —
# big enough that votes actually split, small enough that the oracle's
# cross join stays trivial at sf0.01.
CLS_QUERIES = 20
CLS_K = 5


@register(
    "q_class_knn_vote",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, label AS true_label,
               CAST(embedding AS DOUBLE[]) AS q_emb
        FROM embeddings WHERE vec_id < {CLS_QUERIES}
    ),
    scored AS (
        SELECT q.qid, q.true_label, e.vec_id, e.label,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), q.q_emb), 6) AS sim
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id >= {CLS_QUERIES}
    ),
    nn AS (
        SELECT qid, true_label, label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY sim DESC, vec_id) AS r
            FROM scored
        ) WHERE r <= {CLS_K}
    ),
    votes AS (
        SELECT qid, true_label, label,
               CAST(COUNT(*) AS BIGINT) AS votes
        FROM nn GROUP BY qid, true_label, label
    )
    SELECT qid, CAST(true_label AS BIGINT) AS true_label,
           CAST(label AS BIGINT) AS pred_label, votes,
           true_label = label AS correct
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY votes DESC, label) AS r
        FROM votes
    ) WHERE r = 1 ORDER BY qid
    """,
    tags=("K3", "J1", "F3"),
)
def q_class_knn_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN CLASSIFIER (Fix & Hodges 1951; Cover & Hart 1967) — the
    inference-side consumer of the K3 retrieval stack: 20 held-out
    embedding rows are classified by MAJORITY VOTE among their 5
    nearest train-set neighbors (cosine). Prediction ties break to the
    smallest label, neighbor ranks follow the module's ranking
    contract, so the whole decision path is discrete and exactly
    oracle-checkable (no decision ever rests on an unrounded float).

    Plan: rides knn_exact verbatim (broadcast queries x corpus, one
    partial-topk-per-partition tournament — neighbor selection never
    shuffles the corpus); the vote is a groupBy over k*|queries| = 100
    rows and one rank window over the vote census. Swap-in path for
    the IVF/PQ tiers: any K3 retriever that emits (qid, vec_id, rank)
    feeds the same vote."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < CLS_QUERIES)
    corpus = emb.filter(F.col("vec_id") >= CLS_QUERIES)
    nn = knn_exact(corpus, queries, CLS_K, carry=("label",))
    truth = queries.select(
        F.col("vec_id").alias("qid"),
        F.col("label").cast("bigint").alias("true_label"),
    )
    votes = (
        nn.join(F.broadcast(truth), "qid")
        .groupBy("qid", "true_label", "label")
        .agg(F.count("*").cast("bigint").alias("votes"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("votes"), F.asc("label"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select(
            "qid",
            "true_label",
            F.col("label").cast("bigint").alias("pred_label"),
            "votes",
            (F.col("true_label") == F.col("label")).alias("correct"),
        )
    )


# The oracle twins of ``_recall_census``'s verifier and ``_sign_bits``:
# ``exact`` (qid, vec_id) is knn_exact's float-cosine top-k per fixture
# query; ``bits`` (vec_id, sig) the 63-bit sign signatures and ``q``
# (qid, qsig) the queries' own.
_EXACT_TOPK_SQL = f"""exact AS (
        SELECT q.vec_id AS qid, e.vec_id
        FROM embeddings e
        CROSS JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings WHERE vec_id < {N_QUERIES}) q
        WHERE e.vec_id <> q.vec_id
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY ROUND(list_cosine_similarity(
                CAST(e.embedding AS DOUBLE[]), q.emb), 6) DESC,
                e.vec_id) <= {TOP_K}
    )"""
_SIGN_BITS_SQL = f"""bits AS (
        SELECT e.vec_id,
               SUM(CASE WHEN CAST(e.embedding[i.i + 1] AS DOUBLE) > 0
                        THEN (CAST(1 AS BIGINT) << i.i)
                        ELSE 0 END) AS sig
        FROM embeddings e, range(63) i(i)
        GROUP BY e.vec_id
    ),
    q AS (
        SELECT vec_id AS qid, sig AS qsig FROM bits
        WHERE qid < {N_QUERIES}
    )"""


def _recall_census(top: DataFrame, emb: DataFrame, score: str) -> DataFrame:
    """(qid, rank, vec_id, <score>, in_exact_topk): a tier's top-k rows
    for the fixture queries, each flagged by whether knn_exact over
    `emb` also ranks it in the top k — the recall census of an
    approximate tier against the exact verifier."""
    exact = knn_exact(emb, emb.filter(F.col("vec_id") < N_QUERIES), TOP_K).select(
        F.col("qid").alias("xq"), F.col("vec_id").alias("xv"), F.lit(True).alias("hit")
    )
    return (
        top.join(
            F.broadcast(exact),
            (F.col("xq") == F.col("qid")) & (F.col("xv") == F.col("vec_id")),
            "left",
        )
        .select(
            "qid",
            F.col("rank").cast("bigint").alias("rank"),
            "vec_id",
            score,
            F.coalesce(F.col("hit"), F.lit(False)).alias("in_exact_topk"),
        )
    )


def _sign_bits(emb: DataFrame) -> DataFrame:
    """(vec_id, sig): 1-bit sign quantization over the first 63 dims —
    the one signature every Hamming tier (q_knn_hamming, its rerank and
    postdedup variants) uses."""
    return emb.select(
        "vec_id",
        F.expr(
            "aggregate(zip_with(slice(embedding, 1, 63), "
            "CAST(sequence(0, 62) AS ARRAY<INT>), "
            "(e, i) -> IF(CAST(e AS DOUBLE) > 0D, "
            "shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("sig"),
    )


def _hamming_shortlist(bits: DataFrame, n: int) -> DataFrame:
    """(qid, vec_id, hamming, rank): each fixture query's (vec_id <
    N_QUERIES) n Hamming-nearest signatures in the (possibly pinned)
    `_sign_bits` frame, ties on vec_id. `bits` may carry duplicate
    surrogates."""
    q = bits.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("sig").alias("qsig")
    )
    w = Window.partitionBy("qid").orderBy("hamming", "vec_id")
    return (
        bits.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.bit_count(F.col("sig").bitwiseXOR(F.col("qsig"))).cast("bigint").alias("hamming"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n)
    )


def _hamming_cascade(bits: DataFrame, corpus: DataFrame, k: int, overfetch: int) -> DataFrame:
    """Binary shortlist (k*overfetch by Hamming over `bits`, the
    signatures of `corpus`) -> exact rerank (top-k): (qid, vec_id, sim,
    rank)."""
    short = _hamming_shortlist(bits, k * overfetch).select("qid", "vec_id")
    return _exact_rerank(short, corpus, corpus.filter(F.col("vec_id") < N_QUERIES), k)


@register(
    "q_knn_hamming",
    oracle=f"""
    WITH {_SIGN_BITS_SQL},
    scored AS (
        SELECT q.qid, b.vec_id,
               bit_count(xor(b.sig, q.qsig)) AS hamming
        FROM bits b CROSS JOIN q WHERE b.vec_id <> q.qid
    ),
    ham_top AS (
        SELECT qid, vec_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY hamming, vec_id) AS rank
        FROM scored
    ),
    {_EXACT_TOPK_SQL}
    SELECT h.qid, h.rank, h.vec_id,
           CAST(h.hamming AS BIGINT) AS hamming,
           EXISTS (SELECT 1 FROM exact x
                   WHERE x.qid = h.qid AND x.vec_id = h.vec_id)
             AS in_exact_topk
    FROM ham_top h WHERE h.rank <= {TOP_K}
    ORDER BY h.qid, h.rank
    """,
    tags=("K3", "K7", "H10"),
)
def q_knn_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-QUANTIZED vector search (sign quantization + Hamming
    ranking — the 1-bit tier below PQ in every modern vector stack;
    Charikar 2002 hyperplane-LSH with the coordinate hyperplanes):
    each embedding collapses to ONE BIGINT bitmask (sign bit per
    coordinate over the first 63 dims — bit 63 is dropped so the
    signature stays a non-negative BIGINT whose shifts both engines
    define identically; 32x less data to scan, and the distance
    is a single XOR + POPCOUNT per pair instead of 64 multiply-adds),
    then the exact top-k under Hamming distance is annotated with
    whether it was also in the float-cosine exact top-k — the recall
    census that tells you what the 1-bit tier costs in quality.

    Determinism: the bitmask is exact integer arithmetic (strictly-
    positive test per coordinate), Hamming is integer, ties break on
    vec_id — and the recall annotation is knn_exact's answer, so the
    ENTIRE result is exactly oracle-checkable
    (unlike the seeded-hyperplane LSH tier q_dedup_embedding_lsh,
    whose planes are random). Plan: one map-side fold builds the
    signatures (no shuffle); the scan side carries 8 bytes per vector;
    ranking is the same broadcast-queries window as every K3 tier. At
    100 TB the binary tier is the FIRST pass of a rerank cascade:
    hamming top-(4k) from the bitmask scan, then exact cosine only on
    the survivors."""
    emb = t(spark, sf_dir, "embeddings")
    # pinned: the 8-byte bitmask index (what a binary tier materializes
    # in production) feeds both the query side and the corpus side —
    # unpinned, each re-paid the float scan and the 63-step sign fold
    bits = pin(_sign_bits(emb), "q_knn_hamming.bits")
    return _recall_census(_hamming_shortlist(bits, TOP_K), emb, "hamming")


# Rerank cascade: binary shortlist OVERFETCH x4, then exact cosine on
# survivors only (the q_knn_filtered post-filter overfetch discipline
# applied to the 1-bit tier).
HAMMING_OVERFETCH = 4

# The binary shortlist's cut: per query qb the overfetched Hamming top.
_HAMMING_SHORT_SQL = f"""QUALIFY ROW_NUMBER() OVER (PARTITION BY qb.qid
            ORDER BY bit_count(xor(b.sig, qb.qsig)), b.vec_id)
          <= {TOP_K * HAMMING_OVERFETCH}"""


def _cascade_sql(tier: str) -> str:
    """The ``casc_<tier>`` CTE: the exact-cosine top-k rerank of the
    shortlist ``short_<tier>`` over ``corpus_<tier>`` (the oracle twin
    of ``_exact_rerank``)."""
    return f"""casc_{tier} AS (
        SELECT s.qid, s.vec_id
        FROM short_{tier} s JOIN corpus_{tier} c ON c.vec_id = s.vec_id
        JOIN q ON q.qid = s.qid
        QUALIFY ROW_NUMBER() OVER (PARTITION BY s.qid
            ORDER BY ROUND(list_cosine_similarity(
                CAST(c.embedding AS DOUBLE[]), q.q_emb), 6) DESC,
                s.vec_id) <= {TOP_K}
    )"""


@register(
    "q_knn_hamming_rerank",
    oracle=f"""
    WITH {_SIGN_BITS_SQL},
    shortlist AS (
        SELECT qid, vec_id FROM (
            SELECT q.qid, b.vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q.qid
                       ORDER BY bit_count(xor(b.sig, q.qsig)), b.vec_id)
                     AS hrank
            FROM bits b CROSS JOIN q WHERE b.vec_id <> q.qid
        ) WHERE hrank <= {TOP_K * HAMMING_OVERFETCH}
    ),
    reranked AS (
        SELECT s.qid, s.vec_id,
               ROUND(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings qq
                    WHERE qq.vec_id = s.qid)), 6) AS sim
        FROM shortlist s JOIN embeddings e ON e.vec_id = s.vec_id
    ),
    cascade AS (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY sim DESC, vec_id) AS rank
        FROM reranked
    ),
    {_EXACT_TOPK_SQL}
    SELECT c.qid, c.rank, c.vec_id, c.sim,
           EXISTS (SELECT 1 FROM exact x
                   WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
             AS in_exact_topk
    FROM cascade c WHERE c.rank <= {TOP_K}
    ORDER BY c.qid, c.rank
    """,
    tags=("K3", "K7", "F3"),
)
def q_knn_hamming_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-SHORTLIST + EXACT-RERANK CASCADE — the production shape
    of 1-bit vector search (how every binary-quantized index is
    actually served): the 8-byte Hamming tier overfetches a top-12
    shortlist per query (4x the final k, the q_knn_filtered overfetch
    discipline), then full float cosine runs ONLY on the shortlist and
    keeps the top-3. The output carries the exact-top-k membership
    flag, so the cascade's recall — what the two-stage design buys
    back from the raw 1-bit tier of q_knn_hamming — is part of the
    checked result. Everything is deterministic (integer Hamming,
    e6-rounded cosine, vec_id ties), hence fully oracle-checkable.

    Scale: stage 1 scans 8 bytes/vector (XOR+POPCOUNT); stage 2
    touches only 12 full vectors per query — at 100 TB the float
    columns are read for a shortlist-sized fraction of the corpus
    (columnar pruning makes stage 2 cost proportional to the
    SHORTLIST, not the corpus)."""
    emb = t(spark, sf_dir, "embeddings")
    # pinned bitmask index — shared by the query side and the corpus
    # side of the shortlist (see q_knn_hamming)
    bits = pin(_sign_bits(emb), "q_knn_hamming_rerank.bits")
    cascade = _hamming_cascade(bits, emb, TOP_K, HAMMING_OVERFETCH)
    return _recall_census(cascade, emb, "sim")


# ---------------------------------------------------------------------------
# K7 + K1 composite: the dedup-before-retrieval mitigation, DEMONSTRATED.
# The round-10 Hamming probe recorded honestly that sign patterns collapse
# within near-duplicate clusters (BASELINE.md "Hamming probe": recall@3 =
# 4/15 raw on the clustered fixture) and named dedup-before-embed as the
# pipeline-order mitigation. This query turns that caveat into a measured,
# oracle-checkable claim: pollute the corpus with exact duplicates (the
# limit case of a near-dup cluster — identical sign signature, Hamming 0),
# run the SAME binary-shortlist + rerank cascade before and after a K1
# document-level dedup, and emit per-query recall against the clean-corpus
# exact top-k. Duplicates crowd both stages — the 12-slot Hamming shortlist
# fills with signature-identical copies, and the reranked top-3 wastes
# slots on (a) the query's own duplicate (cosine 1.0, rank 1) and (b) the
# best neighbor's copy (tied sim) — so hits_prededup < hits_postdedup by
# construction, which is exactly the uplift the mitigation buys.
_DUP_OFFSET = 100_000


@register(
    "q_knn_hamming_postdedup",
    oracle=f"""
    WITH corpus_a AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + {_DUP_OFFSET}, embedding FROM embeddings
    ),
    docs_a AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_DUP_OFFSET}, text FROM documents
    ),
    survivors AS (
        SELECT MIN(doc_id) AS doc_id FROM docs_a GROUP BY md5(text)
    ),
    corpus_d AS (
        SELECT c.vec_id, c.embedding FROM corpus_a c
        WHERE c.vec_id IN (SELECT doc_id FROM survivors)
    ),
    q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS q_emb
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    truth AS (
        SELECT q.qid, c.vec_id
        FROM corpus_d c CROSS JOIN q WHERE c.vec_id <> q.qid
        QUALIFY ROW_NUMBER() OVER (PARTITION BY q.qid
            ORDER BY ROUND(list_cosine_similarity(
                CAST(c.embedding AS DOUBLE[]), q.q_emb), 6) DESC,
                c.vec_id) <= {TOP_K}
    ),
    bits_a AS (
        SELECT c.vec_id,
               SUM(CASE WHEN CAST(c.embedding[i.i + 1] AS DOUBLE) > 0
                        THEN (CAST(1 AS BIGINT) << i.i) ELSE 0 END) AS sig
        FROM corpus_a c, range(63) i(i) GROUP BY c.vec_id
    ),
    qb AS (SELECT vec_id AS qid, sig AS qsig FROM bits_a
           WHERE qid < {N_QUERIES}),
    short_a AS (
        SELECT qb.qid, b.vec_id
        FROM bits_a b CROSS JOIN qb WHERE b.vec_id <> qb.qid
        {_HAMMING_SHORT_SQL}
    ),
    {_cascade_sql("a")},
    short_d AS (
        SELECT qb.qid, b.vec_id
        FROM bits_a b CROSS JOIN qb
        WHERE b.vec_id <> qb.qid
          AND b.vec_id IN (SELECT doc_id FROM survivors)
        {_HAMMING_SHORT_SQL}
    ),
    {_cascade_sql("d")},
    pre AS (
        SELECT c.qid,
               COUNT(DISTINCT c.vec_id % {_DUP_OFFSET}) AS hits
        FROM casc_a c JOIN truth t
          ON t.qid = c.qid AND t.vec_id = c.vec_id % {_DUP_OFFSET}
        GROUP BY c.qid
    ),
    post AS (
        SELECT c.qid, COUNT(DISTINCT c.vec_id) AS hits
        FROM casc_d c JOIN truth t
          ON t.qid = c.qid AND t.vec_id = c.vec_id
        GROUP BY c.qid
    ),
    sl_pre AS (
        SELECT qid, COUNT(DISTINCT vec_id % {_DUP_OFFSET}) AS n
        FROM short_a GROUP BY qid
    ),
    sl_post AS (
        SELECT qid, COUNT(DISTINCT vec_id) AS n
        FROM short_d GROUP BY qid
    )
    SELECT q.qid,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST(COALESCE(sl_pre.n, 0) AS BIGINT)
             AS shortlist_distinct_prededup,
           CAST(COALESCE(sl_post.n, 0) AS BIGINT)
             AS shortlist_distinct_postdedup,
           CAST(COALESCE(pre.hits, 0) AS BIGINT) AS hits_prededup,
           CAST(COALESCE(post.hits, 0) AS BIGINT) AS hits_postdedup,
           CAST(COALESCE(post.hits, 0) - COALESCE(pre.hits, 0) AS BIGINT)
             AS recall_uplift
    FROM q LEFT JOIN pre ON pre.qid = q.qid
           LEFT JOIN post ON post.qid = q.qid
           LEFT JOIN sl_pre ON sl_pre.qid = q.qid
           LEFT JOIN sl_post ON sl_post.qid = q.qid
    ORDER BY q.qid
    """,
    tags=("K7", "K1", "K2", "K3"),
)
def q_knn_hamming_postdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-BEFORE-RETRIEVAL, measured (r10 verdict item 5): the same
    binary-shortlist + exact-rerank cascade as q_knn_hamming_rerank,
    run twice — on a corpus polluted with exact duplicates (every
    vector cloned at vec_id + 100000; identical sign signature, the
    limit case of the near-dup clusters the Hamming probe flagged) and
    on the corpus after a K1 document-level exact dedup (min doc_id
    per md5(text) over documents ∪ their clones; vec_id = doc_id is
    the fixture linkage). Recall is counted per query against the
    CLEAN-corpus exact-cosine top-k — the answer a user actually wants
    (near-dup-free). Pre-dedup, the 12-slot shortlist fills with
    signature-identical copies and the final top-3 wastes slots on the
    query's own clone (cosine 1.0) and tied neighbor copies (canonical
    identity vec_id % 100000 is applied before the hit count, so a
    surrogate copy of a true neighbor still counts — the measured loss
    is pure slot-crowding, not id bookkeeping). hits_postdedup >=
    hits_prededup row by row IS the mitigation, demonstrated inside
    one oracle-checked result — and the CROWDING MECHANISM itself is
    measured alongside: shortlist_distinct_prededup counts the
    distinct canonical candidates the 12 shortlist slots actually
    bought pre-dedup (~half; every slot pairs with its clone's
    identical signature) vs the full 12 post-dedup, so the uplift is
    visible even on fixture rows where final recall happens to tie.

    Scale: the dedup side is K1's two fixed-width shuffles; both
    cascades scan 8 bytes/vector for stage 1 and touch only
    shortlist-sized float data for stage 2 — the pollution doubles the
    corpus but none of the per-query state (window frames stay
    k*overfetch). Everything deterministic: integer Hamming,
    e6-rounded cosine, vec_id ties."""
    emb = t(spark, sf_dir, "embeddings")
    docs = t(spark, sf_dir, "documents")
    clone = emb.select(
        (F.col("vec_id") + F.lit(_DUP_OFFSET)).alias("vec_id"), "embedding"
    )
    # Both corpora feed THREE consumers each (cascade, shortlist
    # census, exact truth / dedup semi-join) — unpinned, the doubled
    # corpus union and the dedup semi-join re-ran per consumer (the
    # round-12 before-plan held 63 parquet scans). Pin once each.
    corpus_a = pin(
        emb.select("vec_id", "embedding")
        .unionAll(clone),
        "q_knn_hamming_postdedup.corpus_a",
    )
    docs_a = docs.select("doc_id", "text").unionAll(
        docs.select(
            (F.col("doc_id") + F.lit(_DUP_OFFSET)).alias("doc_id"), "text"
        )
    )
    survivors = docs_a.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("vec_id")
    ).select("vec_id")
    corpus_d = pin(
        corpus_a.join(
            F.broadcast(survivors), "vec_id", "semi"
        ),
        "q_knn_hamming_postdedup.corpus_d",
    )
    truth = knn_exact(
        corpus_d, emb.filter(F.col("vec_id") < N_QUERIES), TOP_K
    ).select(F.col("qid").alias("tq"), F.col("vec_id").alias("tv"))
    bits_a, bits_d = _sign_bits(corpus_a), _sign_bits(corpus_d)
    casc_a = _hamming_cascade(bits_a, corpus_a, TOP_K, HAMMING_OVERFETCH)
    casc_d = _hamming_cascade(bits_d, corpus_d, TOP_K, HAMMING_OVERFETCH)
    sl_pre = (
        _hamming_shortlist(bits_a, TOP_K * HAMMING_OVERFETCH)
        .groupBy("qid")
        .agg(
            F.countDistinct(F.col("vec_id") % F.lit(_DUP_OFFSET)).alias(
                "shortlist_distinct_prededup"
            )
        )
    )
    sl_post = (
        _hamming_shortlist(bits_d, TOP_K * HAMMING_OVERFETCH)
        .groupBy("qid")
        .agg(F.countDistinct("vec_id").alias("shortlist_distinct_postdedup"))
    )
    pre = (
        casc_a.withColumn("canon", F.col("vec_id") % F.lit(_DUP_OFFSET))
        .join(
            F.broadcast(truth),
            (F.col("tq") == F.col("qid")) & (F.col("tv") == F.col("canon")),
        )
        .groupBy("qid")
        .agg(F.countDistinct("canon").alias("hits_prededup"))
    )
    post = (
        casc_d.join(
            F.broadcast(truth),
            (F.col("tq") == F.col("qid")) & (F.col("tv") == F.col("vec_id")),
        )
        .groupBy("qid")
        .agg(F.countDistinct("vec_id").alias("hits_postdedup"))
    )
    q_ids = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid")
    )
    return (
        q_ids.join(pre, "qid", "left")
        .join(post, "qid", "left")
        .join(sl_pre, "qid", "left")
        .join(sl_post, "qid", "left")
        .select(
            "qid",
            F.lit(TOP_K).cast("bigint").alias("k"),
            F.coalesce("shortlist_distinct_prededup", F.lit(0))
            .cast("bigint")
            .alias("shortlist_distinct_prededup"),
            F.coalesce("shortlist_distinct_postdedup", F.lit(0))
            .cast("bigint")
            .alias("shortlist_distinct_postdedup"),
            F.coalesce("hits_prededup", F.lit(0))
            .cast("bigint")
            .alias("hits_prededup"),
            F.coalesce("hits_postdedup", F.lit(0))
            .cast("bigint")
            .alias("hits_postdedup"),
            (
                F.coalesce("hits_postdedup", F.lit(0))
                - F.coalesce("hits_prededup", F.lit(0))
            )
            .cast("bigint")
            .alias("recall_uplift"),
        )
    )


# ---------------------------------------------------------------------------
# K7 (round 11): SQ8 scalar quantization — the 8-bit tier between the
# 1-bit Hamming bitmask and the float corpus (FAISS ScalarQuantizer
# QT_8bit): per-DIMENSION min/max affine quantization to uint8 codes,
# 4x less scan data than float32, and — unlike the seeded-KMeans PQ
# codebooks — the quantizer is a DETERMINISTIC pure function of the
# corpus, so the whole tier is oracle-EXACT (the Hamming-tier property
# at 8-bit fidelity).
SQ8_LEVELS = 255


@register(
    "q_knn_sq8",
    oracle=f"""
    WITH dims AS (
        SELECT e.vec_id, i.i AS d,
               CAST(e.embedding[i.i + 1] AS DOUBLE) AS v
        FROM embeddings e, range(64) i(i)
    ),
    rng AS (
        SELECT d, MIN(v) AS lo, MAX(v) AS hi FROM dims GROUP BY d
    ),
    codes AS (
        SELECT dims.vec_id, dims.d,
               CASE WHEN rng.hi > rng.lo
                    THEN LEAST({SQ8_LEVELS}, FLOOR(
                        (dims.v - rng.lo) * {SQ8_LEVELS} / (rng.hi - rng.lo)))
                    ELSE 0 END AS q
        FROM dims JOIN rng USING (d)
    ),
    qc AS (SELECT vec_id AS qid, d, q AS qq FROM codes
           WHERE vec_id < {N_QUERIES}),
    dots AS (
        SELECT qc.qid, c.vec_id,
               CAST(SUM(c.q * qc.qq) AS BIGINT) AS dot
        FROM codes c JOIN qc ON qc.d = c.d
        WHERE c.vec_id <> qc.qid
        GROUP BY qc.qid, c.vec_id
    ),
    topk AS (
        SELECT qid, vec_id, dot,
               ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY dot DESC, vec_id) AS rank
        FROM dots
    ),
    {_EXACT_TOPK_SQL}
    SELECT t.qid, CAST(t.rank AS BIGINT) AS rank, t.vec_id, t.dot,
           EXISTS (SELECT 1 FROM exact x
                   WHERE x.qid = t.qid AND x.vec_id = t.vec_id)
             AS in_exact_topk
    FROM topk t WHERE t.rank <= {TOP_K}
    ORDER BY t.qid, t.rank
    """,
    tags=("K3", "K7", "F3"),
)
def q_knn_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 SCALAR-QUANTIZED vector search (FAISS ScalarQuantizer
    QT_8bit [PK]) — the 8-bit rung of the K7 ladder between the 1-bit
    Hamming bitmask (q_knn_hamming) and full float: each dimension is
    affinely quantized to 0..255 against its own corpus (min, max)
    — code = floor((v - lo_d) * 255 / (hi_d - lo_d)), clamped at the
    top so v = hi lands on 255 — and candidates rank by the exact
    INTEGER dot product of codes (ties by vec_id). 4x less scan data
    than float32 and integer SIMD arithmetic; the result annotates
    exact-cosine top-k membership (the Hamming tier's recall census).

    Why this tier is oracle-EXACT when PQ/IVF are rows-only: the
    quantizer has NO seeded training — (lo_d, hi_d) are exact
    min/max aggregates, the affine map runs on identical double
    operand bits in the same operation order in both engines, and
    everything after floor() is integer. That makes SQ8 the highest-
    fidelity fully-checkable rung, with the checkable-rung ladder now
    1-bit (sign) -> 8-bit (affine) -> float (exact).

    Plan at 100 TB: the (dim, lo, hi) table is 64 rows — a broadcast;
    codes are built map-side (one scan, no shuffle); ranking reuses
    the K3 broadcast-query-side shape. The long (vec, dim) spelling
    here keeps the oracle joinable; a columnar deployment packs codes
    into one BINARY(64) the way q_knn_hamming packs its BIGINT."""
    emb = t(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "v"),
    )
    # pinned: the 64-row (dim, lo, hi) quantizer table, then the SQ8
    # code table itself (the production index artifact — 1 byte/dim);
    # the query side and the dot-product corpus side both consume the
    # pinned codes, so the float corpus is posexploded once, not four
    # times.
    rng = pin(
        dims.groupBy("d")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi")),
        "q_knn_sq8.rng",
    )
    codes = pin(
        dims.join(F.broadcast(rng), "d").select(
            "vec_id",
            "d",
            F.when(
                F.col("hi") > F.col("lo"),
                F.least(
                    F.lit(SQ8_LEVELS),
                    F.floor(
                        (F.col("v") - F.col("lo"))
                        * F.lit(float(SQ8_LEVELS))
                        / (F.col("hi") - F.col("lo"))
                    ),
                ),
            )
            .otherwise(0)
            .alias("q"),
        ),
        "q_knn_sq8.codes",
    )
    qc = codes.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "d", F.col("q").alias("qq")
    )
    dots = (
        codes.join(F.broadcast(qc), "d")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum(F.col("q") * F.col("qq")).cast("bigint").alias("dot"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.asc("vec_id"))
    topk = (
        dots.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )
    return _recall_census(topk, emb, "dot")


# kNN self-join block bound: the exact primitive runs per BLOCK of this
# many vectors; production composes it under LSH/IVF blocking (the
# documented scale path), never corpus x corpus.
SELF_JOIN_CAP = 500


@register(
    "q_knn_self_join",
    oracle=f"""
    WITH blk AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                 FROM embeddings WHERE vec_id < {SELF_JOIN_CAP}),
         scored AS (
           SELECT a.vec_id AS qid, b.vec_id,
                  ROUND(list_cosine_similarity(b.emb, a.emb), 6) AS sim
           FROM blk a CROSS JOIN blk b
           WHERE b.vec_id <> a.vec_id
         )
    SELECT qid, vec_id, sim, rank FROM (
        SELECT qid, vec_id, sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
    tags=("K3", "K7", "C7"),
)
def q_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN SELF-JOIN — top-k neighbors for EVERY point, the kNN-JOIN
    primitive the ladder lacked: q_knn_exact answers a handful of
    query points; graph construction (kNN graphs for clustering /
    label propagation / UMAP-style layouts), SemDeDup-style
    neighborhood audits and hard-negative mining all need the
    all-points variant. Semantics: per vector, the top-3 cosine
    neighbors excluding self, under the module's ranking contract.

    The block bound IS the scale design: the exact self-join runs on
    a {SELF_JOIN_CAP}-vector BLOCK (capped by vec_id — O(cap^2) pair
    scores regardless of sf), because at 100 TB the kNN-join is
    composed as blocking (LSH buckets / IVF cells, the registered
    q_dedup_embedding_lsh / q_knn_ivf paths) + THIS primitive within
    each block + a cross-block merge window — corpus x corpus is
    never materialized. The same reuse discipline as the ladder's
    rerank stages: one audited exact kernel, many outer strategies.

    Plan: the block broadcasts (it is the q_knn_exact query-side
    shape with the block as BOTH sides); pair scores are zip_with
    JVM expressions; ONE window takes top-3 per qid."""
    emb = t(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < SELF_JOIN_CAP
    )
    return knn_exact(emb, emb, TOP_K)
