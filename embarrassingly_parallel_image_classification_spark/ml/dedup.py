"""K1/K2: deduplication family for training-data pipelines
(SURVEY.md §2-K; driver-mandated extension).

Five tiers, exact → fuzzy:

* exact        — hash-groupBy on content (xxhash64 for the shuffle key,
                 full text only for collision arbitration);
* ngram-jaccard— EXACT set-similarity at a threshold via the lossless
                 prefix-filtered join (AllPairs/PPJoin family);
* minhash      — MinHash signatures + banded LSH: candidates only when
                 a band collides, then a verify. The standard web-scale
                 near-dedup (Broder '97 shape);
* simhash      — 64-bit Charikar fingerprint from per-token bit votes;
* embedding    — cosine-threshold near-dup over the embeddings table
                 (hyperplane-LSH scale path + all-pairs verifier).

Clustering: near-dup pairs → connected components → survivor policy.

Every tier is a cheap index that proposes candidate pairs plus one
exact check that keeps the true ones, and each shared step has one
builder here:

* ``_prefix_join`` — the prefix-filter join of ``jaccard_pairs_at``
  (self) and ``jaccard_cross_at`` (two corpora): ``_tau_rational``
  (tau as an exact num/den), ``_hashed_shingles`` (one pinned frame per
  side), ``_rare_first_prefix`` (also q_dedup_containment's probe
  prefix), the integer ceil bound, the length filter and the
  ``array_intersect`` verify. Its docstring is the one statement of the
  losslessness argument.
* ``_band_pairs`` — the banded-LSH candidate self-join on (band,
  bucket) with a < b, for every LSH tier; ``_band_rows`` unions the
  per-band keys of the portable and affine MinHash signatures.
* ``_charikar`` — the SimHash vote sums and sign fold; the two
  fingerprints differ only in their token hash.
* ``_cluster_rows`` / ``_near_dup_components`` — the cluster rows of
  q_dedup_clusters and q_dedup_clusters_star, and the component graph
  q_dedup_keep_best ranks.

These stay separate on purpose:

* ``connected_components`` (min-label) and ``connected_components_star``
  (large/small star): each has its own registered line and its own
  measured regime (see the decision rule in ``connected_components``).
* The three MinHash permutation families: xxhash64 (``minhash_pairs``,
  the fast engine-specific path), md5 per permutation
  (q_dedup_minhash_portable, bit-identical on any engine) and affine
  over one md5 (q_dedup_minhash_affine, hash cost constant in the
  permutation count).
* ``jaccard_pairs`` — the naive shingle self-join that tests compare
  the prefix join against; sharing code with it would let one bug pass
  both.

Oracle side: the DuckDB texts never call these builders. Their shared
CTEs are oracle-only fragments — ``SHINGLE_CTES`` (toks/sh),
``INTER_CTES`` / ``PAIR_CTES`` (sizes/inter/pairs, also read by
q_pipeline_pretrain) and ``_CLOSURE_SQL`` (e2/reach/clusters, in
``_CLUSTER_CTES``).

Everything is deterministic (hash-seeded, no RNG), so rows-only queries
are still reproducible run-to-run.
"""

from __future__ import annotations

from fractions import Fraction
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_int
from ..functions.vectors import cosine
from ..localframe import local_df, pin
from ..registry import register
from ..sources.tables import t

MINHASH_PERMS = 16
MINHASH_BANDS = 4  # 4 rows per band
SHINGLE_N = 3

# Oracle-only SQL fragments: the DuckDB texts build each shared CTE
# from these, never from the Spark builders they check. ``SHINGLE_CTES``
# is toks/sh, the distinct word SHINGLE_N-grams per document;
# ``INTER_CTES`` the sizes (``_SIZES_SQL``)/inter intersection counts of the naive
# shingle self-join over ``sh``; ``PAIR_CTES`` adds the ``pairs`` of
# trigram Jaccard >= 0.5.
SHINGLE_CTES = f"""toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               UNNEST(list_transform(
                   range(1, len(ws) - {SHINGLE_N - 2}),
                   i -> array_to_string(ws[i : i + {SHINGLE_N - 1}], ' '))) AS shingle
        FROM toks
    )"""
_SIZES_SQL = "sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id)"
INTER_CTES = f"""{_SIZES_SQL},
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""
PAIR_CTES = f"""{INTER_CTES},
    pairs AS (
        SELECT id_a, id_b FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
    )"""


# The components of the pair graph by recursive label propagation.
_CLOSURE_SQL = """e2 AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT src, src FROM e2
        UNION
        SELECT b.dst, r.lab FROM reach r JOIN e2 b ON b.src = r.node
    ),
    clusters AS (SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node)"""
_CLUSTER_CTES = f"""WITH RECURSIVE
    {SHINGLE_CTES},
    {PAIR_CTES},
    {_CLOSURE_SQL}"""


@register(
    "q_dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
    tags=("K1",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one surviving doc_id per distinct text.

    The groupBy key is xxhash64(text) — a fixed-width shuffle key instead
    of shuffling full documents (the 100-TB trick); min(doc_id) is the
    canonical survivor. Collisions are a non-issue for the oracle compare
    (64-bit over ≤5k docs) and at real scale the key widens to
    (xxhash64, md5) — both computed in one pass.
    """
    d = t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.xxhash64("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .drop("h")
    )


def shingles(d: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per document, no
    Python, no explode-join. The token array is projected ONCE and
    each gram is built from n O(1) element_at lookups: the previous
    slice-inside-transform formulation copied an O(len) sub-array per
    gram AND re-evaluated split() per element (no CSE across a lambda
    boundary) — measured ~2.4× slower end-to-end on the bigram census,
    and shingles() feeds every dedup query. Guarded for docs shorter
    than n tokens (sequence(1, size−n+1) would turn descending)."""
    from .text import word_ngrams

    return (
        d.select("doc_id", F.split(F.col("text"), " ").alias("__ws"))
        .select(
            "doc_id",
            F.explode(word_ngrams(n, "__ws", distinct=True)).alias("shingle"),
        )
    )


def jaccard_pairs(d: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """Exact n-gram Jaccard for all candidate pairs (shingle-join).

    The shingle join only pairs docs sharing ≥1 shingle — still
    quadratic in the worst case; use minhash_pairs at scale and keep
    this as the verifier.
    """
    s = shingles(d, n)
    sizes = s.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = s.alias("a")
    b = s.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            # Raw ratio kept for thresholding (filters must compare raw,
            # like the oracle's WHERE — rounding first would disagree at
            # boundaries); rounded copy for value comparison.
            (F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias(
                "jaccard_raw"
            ),
        )
        .withColumn("jaccard", F.round("jaccard_raw", 6))
    )


def _tau_rational(tau: float) -> tuple[int, int]:
    """tau as the exact decimal rational (num, den): Fraction("0.3") =
    3/10, never the float 0.2999…; every threshold bound below is
    integer-exact in num/den."""
    frac = Fraction(str(tau)).limit_denominator(10**9)
    return frac.numerator, frac.denominator


def _hashed_shingles(d: DataFrame, n: int, label: str) -> DataFrame:
    """(doc_id, sh): one corpus's distinct shingles as 8-byte xxhash64
    keys, pinned. Every downstream shuffle (document frequency, prefix
    join, verify sets) moves fixed-width longs — measured 1.4× faster
    end-to-end at sf0.1 than the shingle strings, and the gap widens
    with shingle length. Exact Jaccard on hashes equals Jaccard on
    strings barring 64-bit collisions (negligible; q_dedup_exact's
    argument). The frame feeds four consumers (sizes, document
    frequency, prefix ranking, verify sets), so the pin explodes and
    hashes the corpus once, not once per consumer (round 12)."""
    return pin(
        shingles(d, n).select("doc_id", F.xxhash64("shingle").alias("sh")), label
    )


def _rare_first_prefix(
    s: DataFrame, df_rank: DataFrame, sizes: DataFrame, key: str, keep: Column
) -> DataFrame:
    """(doc_id, key, pos, sz, …): the rows of `s` (doc_id, key) whose
    RARE-FIRST rank `pos` in their document — ascending document
    frequency `df` from `df_rank` (key, df), then `key` — satisfies
    `keep`, a predicate over `pos` and the document size `sz` from
    `sizes` (doc_id, sz). One fixed global order is what makes a
    prefix bound lossless; ranking rarest first keeps hot boilerplate
    shingles out of every prefix, so candidate buckets track rarity,
    not |docs containing the shingle|². The prefix join and
    q_dedup_containment's probe prefix both rank here."""
    w = Window.partitionBy("doc_id").orderBy("df", key)
    return (
        s.join(df_rank, key)
        .select("doc_id", key, F.row_number().over(w).alias("pos"))
        .join(sizes, "doc_id")
        .filter(keep)
    )


def _prefix_join(
    sa: DataFrame, sb: DataFrame | None, tau: float, ids: tuple[str, str]
) -> DataFrame:
    """(ids[0], ids[1], jaccard_raw, jaccard): the exact n-gram-Jaccard
    >= tau pairs between two pinned hashed-shingle frames (doc_id, sh)
    by PREFIX FILTERING (AllPairs / PPJoin family; Bayardo et al.
    WWW'07, Vernica et al. SIGMOD'10). `sb` None is the self join: one
    frame plays both sides, with one pin, one df census and ``a < b``.

    Why not minhash candidates: banded LSH recall at the threshold is
    < 1, silently dropping true pairs and breaking the exact oracle.
    The prefix filter is LOSSLESS: J(A,B) >= tau implies |A∩B| >=
    ceil(tau·|X|) for BOTH sets, so in any single global shingle order
    (here rare-first by the document frequency over both sides, see
    ``_rare_first_prefix``) the first |X| - ceil(tau·|X|) + 1 shingles
    of each doc must share an element (take x = the smallest
    intersection element: if x were outside A's prefix, all of A∩B
    would fit in A's ceil(tau·|A|)-1 suffix slots — too few).

    All three bounds (prefix length, length filter, final threshold)
    are computed in INTEGER arithmetic on tau's exact decimal rational
    num/den — never float. A float ``ceil(tau*sz)`` silently breaks the
    theorem for non-dyadic tau: 0.07*100 → 7.000000000000001 → ceil = 8
    instead of 7, shortening the prefix below the lossless bound and
    dropping true pairs. ceil(tau·sz) = (num·sz + den − 1) div den is
    exact for every tau (tests/test_properties.py: that boundary pair,
    and random corpora at non-dyadic tau=0.3, self and cross).

    The verify step ships only each CANDIDATE pair's two shingle sets
    (array_intersect, JVM-side); its cost tracks candidate count, which
    the length filter (tau·|A| <= |B| <= |A|/tau) prunes further."""
    num, den = _tau_rational(tau)
    census = sa if sb is None else sa.select("sh").unionAll(sb.select("sh"))
    df_rank = census.groupBy("sh").agg(F.count("*").alias("df"))
    # ceil(tau·sz) = (num·sz + den − 1) div den — integer-exact.
    ceil_tau_sz = F.expr(f"({num} * sz + {den - 1}) div {den}")

    def side(s: DataFrame) -> tuple[DataFrame, DataFrame]:
        sizes = s.groupBy("doc_id").agg(F.count("*").alias("sz"))
        pref = _rare_first_prefix(
            s, df_rank, sizes, "sh", F.col("pos") <= F.col("sz") - ceil_tau_sz + 1
        ).select("doc_id", "sh", "sz")
        return pref, s.groupBy("doc_id").agg(F.collect_set("sh").alias("shs"))

    pref_a, sets_a = side(sa)
    pref_b, sets_b = (pref_a, sets_a) if sb is None else side(sb)
    a, b = pref_a.alias("a"), pref_b.alias("b")
    # Length filter tau·|B| <= |A| ⇔ num·|B| <= den·|A| — integer-exact.
    on = F.col("a.sh") == F.col("b.sh")
    if sb is None:
        on = on & (F.col("a.doc_id") < F.col("b.doc_id"))
    on = (
        on
        & (F.col("b.sz") * num <= F.col("a.sz") * den)
        & (F.col("a.sz") * num <= F.col("b.sz") * den)
    )
    id_a, id_b = ids
    cands = (
        a.join(b, on)
        .select(F.col("a.doc_id").alias(id_a), F.col("b.doc_id").alias(id_b))
        .dropDuplicates([id_a, id_b])
    )
    va = sets_a.select(F.col("doc_id").alias(id_a), F.col("shs").alias("shs_a"))
    vb = sets_b.select(F.col("doc_id").alias(id_b), F.col("shs").alias("shs_b"))
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    union = F.size("shs_a") + F.size("shs_b") - inter
    # Threshold inter/union >= tau ⇔ den·inter >= num·union (union > 0
    # for every candidate: they share a prefix shingle) — integer-exact.
    return (
        cands.join(va, id_a)
        .join(vb, id_b)
        .select(
            id_a,
            id_b,
            (inter / union).alias("jaccard_raw"),
            (inter * den >= union * num).alias("_keep"),
        )
        .filter(F.col("_keep"))
        .drop("_keep")
        .withColumn("jaccard", F.round("jaccard_raw", 6))
    )


def jaccard_pairs_at(d: DataFrame, tau: float, n: int = SHINGLE_N) -> DataFrame:
    """(id_a, id_b, jaccard_raw, jaccard): exact n-gram-Jaccard pairs
    with jaccard >= tau within one corpus — the prefix-filtered self
    join (``_prefix_join``), the scale path that replaces the raw
    shingle self-join (``jaccard_pairs``, the small-sf reference).

    Plan at 100 TB: one shuffle joins per-shingle document frequency;
    rare-first prefixes make the quadratic hot-shingle blowup of the
    naive join structurally gone."""
    return _prefix_join(
        _hashed_shingles(d, n, "jaccard_pairs_at.s"), None, tau, ("id_a", "id_b")
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLE_CTES},
         {INTER_CTES}
    SELECT id_a, id_b,
           ROUND(inter / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
    """,
    tags=("K2",),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with exact trigram Jaccard ≥ 0.5, computed by the
    lossless prefix-filtered similarity join (jaccard_pairs_at) — same
    answer as the naive shingle self-join (equivalence pinned in
    tests/test_ml_self_oracles.py), scale-safe candidate generation."""
    d = t(spark, sf_dir, "documents")
    return jaccard_pairs_at(d, 0.5).select("id_a", "id_b", "jaccard")


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """(node, cluster_id): undirected connected components by iterative
    min-label propagation — the step that turns near-dup PAIRS into
    dedup CLUSTERS (pairs alone over-delete: {A~B, B~C} must keep one
    of {A,B,C}, not two survivors of two pairs).

    ``edges`` is (id_a, id_b). Each iteration joins current labels to
    neighbors and takes the min — one shuffle on the node key per
    iteration, converging in O(component diameter) rounds (dup clusters
    are near-cliques: 2–3 rounds in practice). The label total is
    monotone non-increasing and integer, so equal consecutive totals ⇔
    fixpoint. Lineage is truncated per round with a pin — without it
    the iterated plan grows exponentially. The driver-side
    loop itself is how iterative graph algorithms run on Spark
    (GraphFrames does the same), not a collect() anti-pattern —
    per-round driver data is one scalar.

    DECISION RULE (measured by the dedup scale probe `cc`, since
    deleted, see git history;
    BASELINE.md round-5 table): min-label costs one cheap shuffle
    round per unit of component DIAMETER; star contraction costs a
    ~2× heavier round but O(log² n) of them regardless of diameter.
    Use THIS function when components are near-cliques (dedup clusters
    from similarity pairs: diameter ≤ 2–3 — measured 3.3 s vs star's
    7.0 s on 500 six-node cliques). Use ``connected_components_star``
    when components can be chain-shaped or the diameter is unknown
    (measured crossover ≈ diameter 5–10; at diameter 200 star wins
    46.4 s vs 4.4 s, and min-label's round budget becomes the failure
    mode)."""
    both = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    both = pin(both, "connected_components.both")
    labels = both.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    prev_total = None
    converged = False
    for _ in range(max_iter):
        prop = both.join(labels, both.src == labels.node).select(
            F.col("dst").alias("node"), "lab"
        )
        labels = pin(
            labels.unionByName(prop).groupBy("node").agg(F.min("lab").alias("lab")),
            "connected_components.labels",
        )
        total = labels.agg(F.sum("lab")).collect()[0][0]
        if total == prev_total:
            converged = True
            break
        prev_total = total
    if not converged:
        # Same guard as connected_components_star (round-4 ADVICE item
        # 2 applied symmetrically): partially propagated labels are
        # WRONG cluster ids, not approximations — a diameter-d
        # component needs d rounds, so either raise max_iter or switch
        # to connected_components_star (O(log² n) rounds; see the
        # decision rule above).
        raise RuntimeError(
            f"connected_components: min-label propagation did not reach "
            f"a fixpoint in {max_iter} rounds — component diameter "
            f"exceeds the budget; raise max_iter or use "
            f"connected_components_star"
        )
    return labels.select("node", F.col("lab").alias("cluster_id"))


def connected_components_star(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """(node, cluster_id): connected components by the ALTERNATING
    large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14) — the DEEP-COMPONENT
    scale path next to min-label ``connected_components``.

    Min-label propagation needs O(component diameter) rounds: fine for
    near-clique dup clusters, hopeless for chain-shaped components (a
    length-d path needs d rounds, each a full shuffle). Star contraction
    converges in O(log² n) rounds regardless of diameter:

      large-star  — every node attaches its LARGER neighbors to the
                    minimum of its neighborhood (incl. itself);
      small-star  — every node attaches its smaller neighbors and
                    itself to its minimum smaller neighbor.

    Each half-round is one groupBy(node) + one join — the same shuffle
    cost per round as min-label, just ~diameter/log² fewer rounds. Edges
    are kept canonical (u < v) and distinct, so the state never exceeds
    the current edge count; lineage is truncated per round with a pin.
    Fixpoint ⇔ the canonical edge set is stable (it is
    then exactly the star set {(root, node)}), detected via a
    deterministic (count, sum-of-hashes) aggregate — one scalar row per
    round reaches the driver.

    Equivalence with min-label CC is pinned in tests (fixture edges AND
    a 1000-node chain the min-label default round budget cannot solve).
    """
    nodes = pin(
        edges.select(F.col("id_a").alias("node"))
        .unionByName(edges.select(F.col("id_b").alias("node")))
        .distinct(),
        "connected_components_star.nodes",
    )
    e = pin(
        edges.select(
            F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "connected_components_star.e",
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # large-star over symmetric neighborhoods
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("m").alias("u"), F.col("v").alias("v"))
        )
        e = (
            large.filter(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .distinct()
        )
        # small-star: group canonical edges by the larger endpoint v
        mins2 = e.groupBy("v").agg(F.min("u").alias("m"))
        small = (
            e.join(mins2, "v")
            .select(F.col("m"), F.col("u").alias("x"))
            .unionByName(mins2.select("m", F.col("v").alias("x")))
        )
        e = pin(
            small.filter(F.col("m") != F.col("x"))
            .select(F.col("m").alias("u"), F.col("x").alias("v"))
            .distinct(),
            "connected_components_star.round",
        )
        sig = e.agg(
            F.count("*").alias("n"), F.sum(F.xxhash64("u", "v")).alias("h")
        ).collect()[0]
        if (sig["n"], sig["h"]) == prev_sig:
            converged = True
            break
        prev_sig = (sig["n"], sig["h"])
    if not converged:
        # A partially-contracted edge set is NOT the star set — returning
        # it would silently hand back wrong cluster_ids (round-4 ADVICE
        # item 2). O(log² n) rounds suffice in theory, so hitting the
        # budget means a bug or an absurdly small max_iter: fail loudly.
        raise RuntimeError(
            f"connected_components_star: edge set did not stabilize in "
            f"{max_iter} rounds; raise max_iter (components need "
            f"O(log² n) rounds, so this usually indicates a bug)"
        )
    # converged: e is the star set (root=u, node=v); roots label themselves
    labels = e.select(F.col("v").alias("node"), F.col("u").alias("cluster_id"))
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("cluster_id", "node").alias("cluster_id")
    )


_CLUSTERS_ORACLE = f"""
    {_CLUSTER_CTES}
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
           doc_id = cluster_id AS is_survivor
    FROM clusters
    """


def _near_dup_components(d: DataFrame, components) -> DataFrame:
    """(node, cluster_id): `components` (one of the two CC algorithms)
    over the trigram-Jaccard >= 0.5 pair graph of `d`."""
    return components(jaccard_pairs_at(d, 0.5).select("id_a", "id_b"))


def _cluster_rows(spark: SparkSession, sf_dir: str, components) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, is_survivor): the near-dup
    cluster rows of the documents table, min doc_id surviving, with
    the components computed by `components`."""
    cc = _near_dup_components(t(spark, sf_dir, "documents"), components)
    w = Window.partitionBy("cluster_id")
    return cc.select(
        F.col("node").alias("doc_id"),
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("node") == F.col("cluster_id")).alias("is_survivor"),
    )


@register(
    "q_dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    tags=("K2", "composite"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: trigram-Jaccard pairs (≥ 0.5) → connected
    components → one survivor per cluster (min doc_id). The full dedup
    pipeline ending: candidate pairs from the prefix-filtered exact
    similarity join, transitive closure so overlapping pairs delete
    correctly, survivor flag for the keep-list. Oracle is a DuckDB
    recursive-CTE label propagation over the same edge set."""
    return _cluster_rows(spark, sf_dir, connected_components)


@register(
    "q_dedup_clusters_star",
    oracle=_CLUSTERS_ORACLE,
    tags=("K2", "composite", "iterative"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_clusters computed with the alternating large-star/
    small-star CC (connected_components_star) instead of min-label
    propagation — identical answer (same exact oracle), O(log² n)
    rounds instead of O(diameter): the variant to reach for when
    components can be chain-shaped (e.g. transitive URL-canonical
    chains), not near-cliques."""
    return _cluster_rows(spark, sf_dir, connected_components_star)


def _band_pairs(
    banded: DataFrame, bucket: str, *carry: Column, id_col: str = "doc_id"
) -> DataFrame:
    """(id_a, id_b, *carry): the banded-LSH candidate self-join — two
    rows of `banded` (id_col, band, bucket, …) pair when they share a
    (band, `bucket`) key, with id_a < id_b, once per pair however many
    bands collide. The only join is on the band key, so cost tracks
    collisions, not |docs|². `carry` columns read the two sides as
    ``a.<col>`` / ``b.<col>``; a pair colliding in several bands
    carries the first row's values (identical for per-pair values)."""
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{bucket}") == F.col(f"b.{bucket}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            *carry,
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _band_rows(sig: DataFrame, bands: int, rows: int, bucket, *carry) -> DataFrame:
    """(doc_id, band, bucket, *carry): one row per band of a (doc_id,
    m0, m1, …) signature frame, ``bucket`` folding the band's `rows`
    signature columns into its key; the bands are unioned, not
    exploded, so each key stays a plain column expression."""
    return reduce(
        DataFrame.unionByName,
        [
            sig.select(
                "doc_id",
                F.lit(b).alias("band"),
                bucket([F.col(f"m{b * rows + j}") for j in range(rows)]).alias("bucket"),
                *carry,
            )
            for b in range(bands)
        ],
    )


def minhash_signatures(d: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MinHash over trigram shingles.

    Permutation i is xxhash64(xxhash64(shingle), i): each shingle is
    string-hashed ONCE, then the per-permutation values derive from the
    8-byte hash — 16 long-hashes instead of 16 string-hashes per
    shingle occurrence (~15% faster end-to-end at sf0.1, more with
    longer shingles; still a deterministic MinHash family). Min per doc
    per i, computed as ONE aggregation producing all perms (array of
    mins), not perms separate jobs.
    """
    s = shingles(d).select("doc_id", F.xxhash64("shingle").alias("h"))
    min_cols = [
        F.min(F.xxhash64("h", F.lit(i))).alias(f"m{i}") for i in range(perms)
    ]
    sig = s.groupBy("doc_id").agg(*min_cols)
    return sig.select("doc_id", F.array(*[f"m{i}" for i in range(perms)]).alias("sig"))


def minhash_pairs(
    d: DataFrame, perms: int = MINHASH_PERMS, bands: int = MINHASH_BANDS
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH, verified with
    estimated Jaccard (= fraction of matching signature components).

    Band b = hash of signature rows [b·r, (b+1)·r); docs sharing any
    band bucket become candidates (``_band_pairs``).
    """
    r = perms // bands
    sig = minhash_signatures(d, perms)
    banded = sig.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[F.xxhash64(F.slice("sig", b * r + 1, r)) for b in range(bands)])
        ).alias("band", "bucket"),
    )
    cands = _band_pairs(
        banded, "bucket", F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b")
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(perms)
    return cands.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))


@register("q_dedup_minhash", oracle=None, tags=("K2", "rows-only"))
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates with estimated Jaccard ≥ 0.5
    (hash-seeded ⇒ deterministic, but engine-specific ⇒ rows-only;
    recall vs exact Jaccard asserted in tests/test_ml_self_oracles.py)."""
    d = t(spark, sf_dir, "documents")
    return minhash_pairs(d).filter(F.col("est_jaccard") >= 0.5)


def _minhash_portable_oracle(perms: int = MINHASH_PERMS, bands: int = MINHASH_BANDS) -> str:
    """Generated DuckDB mirror of q_dedup_minhash_portable: identical
    md5-based permutation mins, identical banded buckets, identical
    match-count estimate — the whole LSH candidate pipeline, exactly."""
    r = perms // bands
    mins = ", ".join(
        f"MIN(('0x' || substring(md5('{i}:' || shingle), 1, 8))::BIGINT) AS m{i}"
        for i in range(perms)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(concat_ws(',', {', '.join(f'm{b*r+j}' for j in range(r))})) AS bucket, "
        f"{', '.join(f'm{i}' for i in range(perms))} FROM sig"
        for b in range(bands)
    )
    matches = " + ".join(f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(perms))
    return f"""
    WITH {SHINGLE_CTES},
    sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    banded AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               ({matches}) AS n_match
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, ROUND(n_match / {perms}.0, 6) AS est_jaccard
    FROM cand WHERE n_match / {perms}.0 >= 0.5
    """


@register(
    "q_dedup_minhash_portable",
    oracle=_minhash_portable_oracle(),
    tags=("K2",),
)
def q_dedup_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH with the PORTABLE md5 permutation family
    (perm i of a shingle = 32-bit prefix of md5("i:" || shingle)):
    signatures, band buckets, candidate pairs and the matching-
    component Jaccard estimate are all bit-identical on any engine, so
    the ENTIRE LSH pipeline — not just a recall property — is verified
    against an exact DuckDB oracle. The xxhash64 formulation
    (q_dedup_minhash) remains the perf path; this one is the audit
    path. est threshold compared on the raw ratio (k/16 — exact IEEE
    division both sides), rounded only for exposure."""
    perms, bands = MINHASH_PERMS, MINHASH_BANDS
    d = t(spark, sf_dir, "documents")
    sh = shingles(d)
    min_cols = [
        F.min(md5_int(F.concat(F.lit(f"{i}:"), F.col("shingle")), 8)).alias(f"m{i}")
        for i in range(perms)
    ]
    sig = sh.groupBy("doc_id").agg(*min_cols)
    banded = _band_rows(
        sig,
        bands,
        perms // bands,
        lambda ms: F.md5(F.concat_ws(",", *ms)),
        *[F.col(f"m{i}") for i in range(perms)],
    )
    matches = sum(
        F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        for i in range(perms)
    )
    cand = _band_pairs(banded, "bucket", matches.alias("n_match"))
    est = F.col("n_match") / float(perms)
    return (
        cand.filter(est >= 0.5)
        .select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))
    )


@register("q_dedup_minhash_mllib", oracle=None, tags=("K2", "rows-only"))
def q_dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib variant of near-dedup: HashingTF token vectors →
    MinHashLSH.approxSimilarityJoin (seeded). Distance ≤ 0.1: the
    fixture corpus draws from a ~31-word vocabulary, so word-SET
    Jaccard saturates (loose thresholds match most pairs) —
    trigram shingles (q_dedup_minhash) stay discriminative and are the
    preferred formulation; this variant covers the MLlib API."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    d = t(spark, sf_dir, "documents")
    toks = Tokenizer(inputCol="text", outputCol="toks").transform(d)
    vecs = HashingTF(inputCol="toks", outputCol="features", numFeatures=1 << 14).transform(
        toks
    )
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=3, seed=42
    ).fit(vecs)
    pairs = model.approxSimilarityJoin(vecs, vecs, 0.1, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            F.round(F.col("jaccard_dist"), 6).alias("jaccard_dist"),
        )
    )


def _charikar(h: DataFrame, bit_at, bits: int = 64) -> DataFrame:
    """(doc_id, simhash): Charikar's fold over token-hash rows of `h` —
    bit j of the fingerprint is the sign of Σ_tokens ±1 by the token
    hash's bit j, which `bit_at(j)` places as (column, shift). One
    groupBy with `bits` conditional vote sums, then a sign fold in
    which bit 63 lands on the BIGINT sign as -(2^63)."""
    votes = [
        F.sum(
            F.when(F.shiftright(F.col(c), k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j, (c, k) in enumerate(map(bit_at, range(bits)))
    ]
    agg = h.groupBy("doc_id").agg(*votes)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(
            F.col(f"b{j}") > 0,
            F.lit(1).cast("long") * (2**j if j < 63 else -(2**63)),
        ).otherwise(0)
    return agg.select("doc_id", fp.alias("simhash"))


def simhash(d: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash) — Charikar fingerprint from per-token votes,
    token hash = xxhash64(token). Pure SQL: explode tokens → one
    groupBy with 64 conditional sums folded into a BIGINT."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select("doc_id", F.xxhash64("tok").alias("h"))
    return _charikar(h, lambda j: ("h", j), bits)


def _simhash_portable_oracle() -> str:
    """64 conditional-sum vote columns + sign-bit fold, generated — the
    exact SQL mirror of simhash_portable (bit 63 lands on the BIGINT
    sign, same -(2^63) fold both engines)."""
    votes = []
    for j in range(64):
        col = "lo" if j < 32 else "hi"
        sh = j if j < 32 else j - 32
        votes.append(
            f"SUM(CASE WHEN (({col} >> {sh}) & 1) = 1 THEN 1 ELSE -1 END) AS b{j}"
        )
    terms = []
    for j in range(64):
        w = 2**j if j < 63 else -(2**63)
        terms.append(f"CASE WHEN b{j} > 0 THEN CAST({w} AS BIGINT) ELSE 0 END")
    return f"""
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents),
    h AS (
        SELECT doc_id,
               ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hi,
               ('0x' || substring(md5(tok), 9, 8))::BIGINT AS lo
        FROM toks),
    votes AS (
        SELECT doc_id, {", ".join(votes)}
        FROM h GROUP BY doc_id),
    fp AS (
        SELECT doc_id, {" + ".join(terms)} AS simhash FROM votes)
    SELECT doc_id, simhash,
           COUNT(*) OVER (PARTITION BY simhash) AS n_same_fp
    FROM fp
    """


def simhash_portable(d: DataFrame) -> DataFrame:
    """(doc_id, simhash) — Charikar fingerprint whose token hash is the
    64-bit md5 prefix (two portable 32-bit halves) instead of xxhash64,
    making the whole fingerprint CROSS-ENGINE REPRODUCIBLE: DuckDB
    computes the identical 64 vote sums and the identical sign fold, so
    q_dedup_simhash_portable is verified EXACTLY — the only simhash
    formulation a third party can audit without Spark. Keep the
    xxhash64 variant (simhash) as the perf path at scale: one JVM hash
    beats md5 string slicing; this one buys verifiability."""
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h = toks.select(
        "doc_id", md5_int("tok", 8).alias("hi"), md5_int("tok", 8, 9).alias("lo")
    )
    return _charikar(h, lambda j: ("lo", j) if j < 32 else ("hi", j - 32))


def _same_fp(fp: DataFrame) -> DataFrame:
    """(doc_id, simhash, n_same_fp): each fingerprint with the number
    of documents sharing it — the near-dup groups."""
    w = Window.partitionBy("simhash")
    return fp.select("doc_id", "simhash", F.count("*").over(w).alias("n_same_fp"))


@register(
    "q_dedup_simhash_portable",
    oracle=_simhash_portable_oracle(),
    tags=("K2",),
)
def q_dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with the portable md5-derived token hash — identical
    fingerprints on any engine, so this K2 family member graduates
    from rows-only to an exact DuckDB oracle (the xxhash64 variant
    q_dedup_simhash stays as the faster engine-specific path)."""
    return _same_fp(simhash_portable(t(spark, sf_dir, "documents")))


@register("q_dedup_simhash", oracle=None, tags=("K2", "rows-only"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint per document (group identical fingerprints
    to find near-dups). Deterministic; rows-only."""
    return _same_fp(simhash(t(spark, sf_dir, "documents")))


@register(
    "q_dedup_embedding",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) > 0.45
    """,
    tags=("K2", "K3"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine similar pairs (sim > 0.45) by brute force —
    the SMALL-SCALE VERIFIER for q_dedup_embedding_lsh, which is the
    registered scale path (all-pairs is O(n²); don't run this corpus-
    wide). Threshold 0.45 because the fixture has no planted near-dups
    (max pairwise sim ≈ 0.51): a 0.9 threshold would make the driver's
    value check a vacuous 0-row match."""
    e = t(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.alias("b")
    sim = cosine(F.col("a.embedding"), F.col("b.embedding"))
    # Filter on the RAW similarity (like the oracle's WHERE) and round
    # only the projected value — filtering on the rounded value would
    # disagree with DuckDB for sims in (0.45, 0.4500005).
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            sim.alias("sim_raw"),
        )
        .filter(F.col("sim_raw") > 0.45)
        .select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))
    )


# --- embedding near-dup, the scale path: hyperplane LSH + exact verify ---

LSH_BANDS = 16
LSH_BITS = 8  # bits (hyperplanes) per band
PLANT_N = 50  # near-dup copies planted into the corpus
PLANT_OFFSET = 1_000_000


def _planted_corpus(e: DataFrame) -> DataFrame:
    """embeddings ∪ 50 near-dup copies (vec_id+1e6, elements ×1.001).

    The fixture has no natural near-dups (max pairwise sim ≈ 0.51), so
    the near-dup retrieval path would be untestable; planting scaled
    copies is the standard dedup-pipeline eval. Scaling by a positive
    constant preserves every hyperplane sign, so planted pairs collide
    in ALL bands — recall 1.0 by construction, not luck."""
    from ..functions.vectors import scale

    orig = e.select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("emb"))
    plant = e.filter(F.col("vec_id") < PLANT_N).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        scale("embedding", 1.001).alias("emb"),
    )
    return orig.unionByName(plant)


def hyperplane_signatures(
    corpus: DataFrame, dim: int, bands: int = LSH_BANDS, bits: int = LSH_BITS, seed: int = 7
) -> DataFrame:
    """(vec_id, band, sig): one ``bits``-bit signature per band from the
    signs of ``bands*bits`` seeded random-hyperplane projections.

    Plan shape: broadcast the (tiny, driver-generated) plane table,
    crossJoin — bands·bits dot products per vector, all zip_with/
    aggregate JVM expressions — then ONE groupBy(vec_id, band) packs
    sign bits into the signature. Per-vector cost is constant; the
    shuffle key is (vec_id, band): this is the 100-TB shape."""
    import numpy as np

    from ..functions.vectors import dot

    rng = np.random.RandomState(seed)
    planes = [
        (int(i), [float(x) for x in rng.standard_normal(dim)])
        for i in range(bands * bits)
    ]
    plane_df = local_df(
        corpus.sparkSession, planes, "plane_id int, plane array<double>"
    )
    proj = corpus.crossJoin(F.broadcast(plane_df)).select(
        "vec_id",
        (F.col("plane_id") / bits).cast("int").alias("band"),
        F.when(dot("emb", "plane") >= 0, F.lit(1)).otherwise(F.lit(0)).alias("bit"),
        (F.col("plane_id") % bits).alias("pos"),
    )
    return proj.groupBy("vec_id", "band").agg(
        F.sum(F.col("bit").cast("bigint") * F.pow(F.lit(2.0), F.col("pos")).cast("bigint")).alias("sig")
    )


@register(
    "q_dedup_embedding_lsh",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
        UNION ALL
        SELECT vec_id + {PLANT_OFFSET},
               list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
        FROM embeddings WHERE vec_id < {PLANT_N}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS sim
    FROM c a JOIN c b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) > 0.9
    """,
    tags=("K2", "K3"),
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup (cosine > 0.9), the SCALE path: random-
    hyperplane LSH generates candidates (pairs colliding in ≥1 of 16
    8-bit bands), exact cosine verifies only candidates. The oracle is
    the brute-force all-pairs SQL over the same planted corpus — the
    LSH result must EQUAL it (recall 1.0: planted pairs share every
    band signature, see _planted_corpus).

    Scale: signatures are one broadcast-crossJoin + one groupBy per
    vector (constant per-row work); the candidate join is on
    (band, sig) buckets — sub-quadratic wherever buckets are selective —
    and exact cosine touches candidates only. The all-pairs verifier
    (q_dedup_embedding) is quadratic and stays a small-sf check."""
    e = t(spark, sf_dir, "embeddings")
    corpus = _planted_corpus(e)
    sigs = hyperplane_signatures(corpus, dim=64)
    cands = _band_pairs(sigs, "sig", id_col="vec_id")
    a = corpus.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    b = corpus.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine("emb_a", "emb_b").alias("sim_raw"))
        .filter(F.col("sim_raw") > 0.9)
    )
    return verified.select("id_a", "id_b", F.round("sim_raw", 6).alias("sim"))


@register(
    "q_dedup_keep_best",
    oracle=f"""
    {_CLUSTER_CTES},
    ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY c.cluster_id) AS n_members
        FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id AS keep_doc_id, n_members, n_chars AS best_chars
    FROM ranked WHERE rn = 1
    """,
    tags=("K2", "K4", "composite"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup: per near-dup cluster keep the HIGHEST-
    QUALITY member (longest doc, id tiebreak), not the arbitrary min id
    — the keep-policy real training-data pipelines apply after
    clustering. Composition: prefix-filtered jaccard pairs → connected
    components → quality join → per-cluster argmax (one window over the
    tiny clustered subset)."""
    d = t(spark, sf_dir, "documents")
    cc = _near_dup_components(d, connected_components)
    joined = cc.join(
        d.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), F.asc("node"))
    return (
        joined.select(
            "cluster_id",
            "node",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("cluster_id")).alias("n_members"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("node").alias("keep_doc_id"),
            "n_members",
            F.col("n_chars").alias("best_chars"),
        )
    )


def jaccard_cross_at(
    existing: DataFrame, incoming: DataFrame, tau: float, n: int = SHINGLE_N
) -> DataFrame:
    """Incremental near-dedup: exact n-gram-Jaccard >= tau pairs
    BETWEEN two corpora — the production crawl-ingest shape (a new
    batch screened against the standing corpus without re-pairing the
    corpus with itself). The same prefix join as jaccard_pairs_at
    (``_prefix_join``), one pinned frame per corpus and one rare-first
    order over their combined document frequency; candidates only pair
    existing×incoming, so cost tracks |batch|·selectivity, never
    |corpus|². At 100 TB the existing side's (sh, pos, sz) prefix index
    is computed once and STORED (bucketed by sh), so each ingest builds
    shingles only for the new batch and joins the index — this function
    is that join's logical plan. Returns (id_exist, id_new,
    jaccard_raw, jaccard)."""
    return _prefix_join(
        _hashed_shingles(existing, n, "jaccard_cross_at.se"),
        _hashed_shingles(incoming, n, "jaccard_cross_at.si"),
        tau,
        ("id_exist", "id_new"),
    )


@register(
    "q_dedup_incremental",
    oracle=f"""
    WITH {SHINGLE_CTES},
         {_SIZES_SQL},
         inter AS (
           SELECT e.doc_id AS id_exist, i.doc_id AS id_new, COUNT(*) AS inter
           FROM sh e JOIN sh i ON e.shingle = i.shingle
           WHERE e.doc_id % 7 <> 0 AND i.doc_id % 7 = 0
           GROUP BY 1, 2
         ),
         hits AS (
           SELECT id_new, id_exist,
                  inter / (se.sz + si.sz - inter) AS j
           FROM inter
           JOIN sizes se ON se.doc_id = id_exist
           JOIN sizes si ON si.doc_id = id_new
           WHERE inter / (se.sz + si.sz - inter) >= 0.5
         )
    SELECT id_new, COUNT(*) AS n_dups,
           MIN(id_exist) AS min_dup_id,
           ROUND(MAX(j), 6) AS max_jaccard
    FROM hits GROUP BY id_new
    """,
    tags=("K2", "incremental"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the batch of documents with doc_id %
    7 = 0 arrives against the standing corpus (the other six
    sevenths); each incoming doc that near-duplicates (trigram Jaccard
    >= 0.5) ANY existing doc is flagged with its duplicate count, a
    deterministic witness (min matching id) and its best similarity.
    This is the screen every rolling crawl runs before admitting new
    data — computed by the two-corpus prefix-filtered join
    (jaccard_cross_at), which never pairs the existing corpus with
    itself. The oracle recomputes the full cross similarity naively."""
    d = t(spark, sf_dir, "documents")
    existing = d.filter(F.col("doc_id") % 7 != 0)
    incoming = d.filter(F.col("doc_id") % 7 == 0)
    hits = jaccard_cross_at(existing, incoming, 0.5)
    return hits.groupBy("id_new").agg(
        F.count("*").alias("n_dups"),
        F.min("id_exist").alias("min_dup_id"),
        F.round(F.max("jaccard_raw"), 6).alias("max_jaccard"),
    )


@register(
    "q_dedup_containment",
    oracle=f"""
    WITH {SHINGLE_CTES},
         {_SIZES_SQL},
         inter AS (
           SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
                  COUNT(*) AS inter
           FROM sh a JOIN sh b ON a.shingle = b.shingle
                             AND a.doc_id <> b.doc_id
           GROUP BY 1, 2
         )
    SELECT i.contained_id, i.container_id, i.inter,
           sa.sz AS sz_contained,
           CAST(i.inter * 1000000 // sa.sz AS BIGINT) AS cont_e6
    FROM inter i JOIN sizes sa ON sa.doc_id = i.contained_id
    WHERE i.inter * 5 >= 4 * sa.sz
    """,
    tags=("K2",),
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT near-dup detection (asymmetric Jaccard,
    c(A→B) = |A∩B| / |A| ≥ 0.8) — the screen Jaccard misses: a short
    doc pasted inside a long one has tiny Jaccard but containment ≈ 1
    (quote inclusion, boilerplate wrapping, sub-document dup [PK —
    Broder's containment]). The oracle is the naive shingle self-join;
    the Spark plan is the lossless PROBE-prefix + set-verify
    architecture:

    1. distinct trigram shingles per doc (shingles() — O(1) gram
       assembly), per-doc sizes;
    2. probe prefix: each doc's shingles ordered by GLOBAL document
       frequency ascending (rarest first), keep the first
       ⌊(1−τ)·|A|⌋+1 — if A is τ-contained in ANY B, at most
       (1−τ)·|A| of A's shingles miss B, so at least one probe shingle
       hits: candidate generation is lossless, and probing with the
       RAREST shingles minimizes candidate fanout;
    3. candidates = probe ⋈ full shingle table on shingle (equi-join,
       never all-pairs), distinct ordered pairs;
    4. verify on materialized sets: join each candidate to the two
       docs' sorted shingle arrays, exact inter = size(
       array_intersect) — per-pair work bounded by doc length, no
       second fact-sized shuffle;
    5. integer threshold 5·inter ≥ 4·|A| and exact e6 containment
       (DIV // parity).

    At 100 TB step 3 is the only quadratic risk and the df-ascending
    prefix is the standard mitigation (stop-shingle cut applies the
    q_text_boilerplate census when corpora carry heavy templates)."""
    d = t(spark, sf_dir, "documents")
    tau_num, tau_den = 4, 5  # tau = 0.8
    # the shingle frame feeds FOUR consumers (df census, probe ranking,
    # candidate join, set materialization) — pin it once instead of
    # re-exploding the corpus per consumer; measured 2.5 → 1.8 s warm
    # at sf0.1, and at scale this is the standard "tokenize once" stage
    sh = pin(shingles(d), "q_dedup_containment.sh")
    # one aggregate yields both the verify sets and the sizes (sz =
    # size of the distinct-shingle set — ONE definition, review
    # finding: two parallel count aggregates could silently diverge)
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("shingle")).alias("set"),
        F.count("*").alias("sz"),
    )
    sizes = sets.select("doc_id", "sz")
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    # keep floor((1 - tau) * sz) + 1 probes: (den-num)*sz DIV den + 1
    probes = F.expr(f"CAST(({tau_den - tau_num} * sz) DIV {tau_den} AS INT) + 1")
    ranked = _rare_first_prefix(
        sh, df, sizes, "shingle", F.col("pos") <= probes
    ).select(F.col("doc_id").alias("contained_id"), "shingle")
    cand = (
        ranked.join(
            sh.select(F.col("doc_id").alias("container_id"), "shingle"), "shingle"
        )
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(
                F.col("doc_id").alias("contained_id"),
                F.col("set").alias("set_a"),
                F.col("sz").alias("sz_contained"),
            ),
            "contained_id",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("container_id"), F.col("set").alias("set_b")
            ),
            "container_id",
        )
        .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")).cast("bigint"))
        .filter(F.col("inter") * tau_den >= tau_num * F.col("sz_contained"))
    )
    return verified.select(
        "contained_id",
        "container_id",
        "inter",
        "sz_contained",
        F.expr("CAST(inter * 1000000 DIV sz_contained AS BIGINT)").alias("cont_e6"),
    )


# Pseudo-paragraph width for q_dedup_paragraph: the fixture's documents
# are single-line word soup, so "paragraphs" are fixed 10-token chunks
# — the granularity knob of line-level dedup (CCNet / RefinedWeb run
# the same algorithm on newline-split lines).
PARA_TOKENS = 10


@register(
    "q_dedup_paragraph",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS cpos,
               array_to_string(
                   tk[(i*{PARA_TOKENS}+1):(i*{PARA_TOKENS}+{PARA_TOKENS})],
                   ' ') AS chunk
        FROM toks,
             UNNEST(range(CAST(ceil(len(tk) / {PARA_TOKENS}.0) AS BIGINT)))
                 AS u(i)
    ),
    ranked AS (
        SELECT doc_id, cpos, chunk,
               ROW_NUMBER() OVER (PARTITION BY chunk
                   ORDER BY doc_id, cpos) AS rn
        FROM chunks
    )
    SELECT doc_id,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                               ORDER BY cpos), '') AS kept_text,
           CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_dropped
    FROM ranked GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("K1", "K4", "E1"),
)
def q_dedup_paragraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-LEVEL (sub-document) exact dedup — the CCNet /
    RefinedWeb line-level pass [PK]: boilerplate repeats ACROSS
    documents (headers, licence blocks, navigation) that doc-level
    dedup can never see, so the corpus is exploded to fixed
    10-token pseudo-paragraphs (the fixture has no newlines),
    each paragraph keeps only its FIRST occurrence in global
    (doc_id, position) order, and every document is reassembled from
    its surviving paragraphs in original order — documents reduced to
    nothing stay in the output with empty text and n_kept = 0, which
    the downstream length filter (q_quality_gopher) removes, not this
    operator.

    Plan: chunking is MAP-ONLY (slice over the token array — no
    explode-then-regroup round trip); the first-occurrence election is
    ONE window whose partition key LEADS with the paragraph's 8-byte
    xxhash64 digest — hashing/range-comparing a fixed 8-byte key at
    shuffle time, not a variable ~60-char string — with the text as
    the SECOND key component so a digest collision still partitions
    exactly (the text rides anyway for reassembly, so no extra bytes
    move; same key discipline as q_dedup_exact). The reassembly
    groupBy is keyed by doc_id and bounded by document length. Two
    keyed shuffles total, both fixed-width."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("tk")
    )
    chunks = docs.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(tk) / {PARA_TOKENS}.0) AS INT) - 1), "
                f"i -> array_join(slice(tk, i * {PARA_TOKENS} + 1, {PARA_TOKENS}), ' '))"
            )
        ).alias("cpos", "chunk"),
    )
    w = Window.partitionBy(F.xxhash64("chunk"), "chunk").orderBy(
        "doc_id", "cpos"
    )
    ranked = chunks.select(
        "doc_id", "cpos", "chunk", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1, F.struct("cpos", "chunk")
                            )
                        )
                    ),
                    lambda x: x.chunk,
                ),
                " ",
            ).alias("kept_text"),
            F.count(F.when(F.col("rn") == 1, 1)).cast("bigint").alias("n_kept"),
            F.count(F.when(F.col("rn") > 1, 1)).cast("bigint").alias("n_dropped"),
        )
    )


# ---------------------------------------------------------------------------
# K2/K4 (round 11): WINNOWING document fingerprints — Schleimer,
# Wilkerson & Aiken, "Winnowing: Local Algorithms for Document
# Fingerprinting" (SIGMOD 2003), the MOSS algorithm: the guarantee-
# bearing alternative to 0-mod-p fingerprint sampling (every window of
# w consecutive k-grams contributes >= 1 fingerprint, so any match of
# length >= w + k - 1 is detected — MinHash/SimHash give no such local
# guarantee).
WINNOW_K = 8       # character k-gram width
WINNOW_W = 4       # winnowing window (grams per window)
WINNOW_MAXDF = 50  # drop ubiquitous fingerprints (stop-gram guard)
WINNOW_POSCAP = 1 << 20  # position packing radix (docs < 1M chars)
_WINNOW_OFFSET = 100_000

_WINNOW_GRAMS_SQL = f"""
        SELECT doc_id, text,
               -- range() is EXCLUSIVE of its stop where Spark's
               -- sequence() is inclusive: stop = len - k + 2 yields
               -- pos = 1 .. len - k + 1, the full gram set
               unnest(range(1, CAST(LENGTH(text) AS BIGINT)
                               - {WINNOW_K - 2})) AS pos
        FROM docs_a WHERE LENGTH(text) >= {WINNOW_K + WINNOW_W - 1}
"""


@register(
    "q_text_winnowing",
    oracle=f"""
    WITH docs_a AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_WINNOW_OFFSET}, text FROM documents
    ),
    grams AS ({_WINNOW_GRAMS_SQL}),
    keyed AS (
        SELECT doc_id, pos,
               CAST(LENGTH(text) AS BIGINT) - {WINNOW_K - 1} AS n_grams,
               ('0x' || substring(md5(substring(text, CAST(pos AS INT),
                                                {WINNOW_K})), 1, 10))::BIGINT
                 * {WINNOW_POSCAP}
                 + ({WINNOW_POSCAP} - 1 - pos) AS key
        FROM grams
    ),
    wmin AS (
        SELECT doc_id, pos, n_grams,
               MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW
                    AND {WINNOW_W - 1} FOLLOWING) AS m
        FROM keyed
    ),
    fph AS (
        SELECT DISTINCT doc_id, m // {WINNOW_POSCAP} AS fp_hash
        FROM wmin WHERE pos <= n_grams - {WINNOW_W - 1}
    ),
    kept AS (
        SELECT fp_hash FROM fph GROUP BY fp_hash
        HAVING COUNT(*) <= {WINNOW_MAXDF}
    ),
    fpk AS (SELECT fph.* FROM fph JOIN kept USING (fp_hash)),
    nfp AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp
        FROM fpk GROUP BY doc_id
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fpk a JOIN fpk b
          ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared,
           na.n_fp AS n_fp_a, nb.n_fp AS n_fp_b,
           CAST((p.n_shared * 1000000)
                // LEAST(na.n_fp, nb.n_fp) AS BIGINT) AS containment_e6
    FROM pairs p
    JOIN nfp na ON na.doc_id = p.doc_a
    JOIN nfp nb ON nb.doc_id = p.doc_b
    ORDER BY p.n_shared DESC, p.doc_a, p.doc_b
    LIMIT 10
    """,
    tags=("K2", "K4", "composite"),
)
def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWING FINGERPRINTS (Schleimer-Wilkerson-Aiken 2003, the
    MOSS plagiarism detector's core): per document, hash every
    character 8-gram, slide a w=4 window over the gram-hash sequence
    and keep each window's RIGHTMOST MINIMUM — the selection rule that
    guarantees at least one shared fingerprint for any common
    substring of length >= w + k - 1 = 11, the local-match guarantee
    MinHash (whole-doc similarity) and SimHash (global bit votes)
    fundamentally lack. Fingerprint-sharing pairs then fall out of an
    inverted-index equi-join. The corpus is planted with exact clones
    (doc_id + 100000 — the q_knn_hamming_postdedup pollution pattern)
    so the detector's output is non-vacuous at every sf: clone pairs
    surface with containment 10^6 ahead of any organic overlap.

    Determinism / portability: gram hash = first 10 md5 hex digits ->
    40-bit integer (the q_agg_countmin portable family); the rightmost-
    min-per-window selection needs NO argmin window function — each
    gram packs into ONE key = h40 * 2^20 + (2^20 - 1 - pos), whose
    plain MIN over the w-gram frame decodes to exactly (smallest hash,
    rightmost position). Ubiquitous fingerprints (doc frequency >
    {WINNOW_MAXDF}) are dropped before pairing — the stop-gram guard
    that bounds the inverted-index bucket fan-out, standard in every
    production fingerprint index.

    Plan at 100 TB: grams never shuffle (generated and windowed inside
    the per-doc partition — ~n_chars rows/doc, window is ROWS-framed
    on a dense position); the only shuffles are the fingerprint
    distinct and the bucket-bounded hash equi-join (candidate pairs
    are bounded by sum over hashes of df^2 <= MAXDF * total_fps, never
    all-pairs). Short docs (< k + w - 1 chars) cannot host one full
    window and are excluded identically in both engines.

    Two round-12 scale fixes (A/B in BASELINE.md, 17.4 -> 3.2 s cold):
    (1) EXPLODE FAN-OUT SIZING — Spark sizes scan tasks by INPUT bytes
    (maxPartitionBytes), but the gram explode multiplies work ~550x
    per byte, so a 3 MB doc file became a 2-task stage on 32 cores.
    The repartition(defaultParallelism, doc_id) shuffles only the
    small pre-explode doc rows AND satisfies the window's
    hashpartitioning(doc_id) so no extra exchange appears: grams are
    generated, windowed and distinct'd at full parallelism and still
    never shuffle. (2) MULTI-CONSUMER PIPELINE — fph feeds four
    consumers (df guard, the pair join's two sides, per-doc counts);
    without pinning, Spark recomputes the whole gram pipeline per
    consumer; the pin computes it exactly once."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    docs_a = docs.unionAll(
        docs.select(
            (F.col("doc_id") + F.lit(_WINNOW_OFFSET)).alias("doc_id"), "text"
        )
    )
    base = docs_a.filter(
        F.length("text") >= WINNOW_K + WINNOW_W - 1
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    # gram hashes are built INSIDE a per-doc transform() lambda and
    # only then posexploded: the exploded rows carry an 8-byte hash
    # each instead of dragging the whole text column through the
    # explode (the naive explode-then-substring spelling materializes
    # |text| bytes PER GRAM ROW — measured 1.35x slower cold at sf0.1,
    # identical results; BASELINE.md round-11 notes)
    keyed = base.select(
        "doc_id",
        (F.length("text").cast("bigint") - F.lit(WINNOW_K - 1)).alias(
            "n_grams"
        ),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), (F.length("text") - (WINNOW_K - 1)).cast("int")),
                lambda p: md5_int(F.substring("text", p, WINNOW_K), 10),
            )
        ).alias("pos0", "h40"),
    ).select(
        "doc_id",
        "n_grams",
        (F.col("pos0") + 1).alias("pos"),
        (
            F.col("h40") * F.lit(WINNOW_POSCAP)
            + (F.lit(WINNOW_POSCAP) - 1 - (F.col("pos0") + 1))
        ).alias("key"),
    )
    wmin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    # four consumers below (df guard, pair join a/b, per-doc
    # counts): pin the gram pipeline so it runs exactly once
    fph = pin(
        keyed.select(
            "doc_id",
            "pos",
            "n_grams",
            F.min("key").over(wmin).alias("m"),
        )
        .filter(F.col("pos") <= F.col("n_grams") - F.lit(WINNOW_W - 1))
        .select(
            "doc_id",
            F.expr(f"m div {WINNOW_POSCAP}").alias("fp_hash"),
        )
        .distinct(),
        "q_text_winnowing.fph",
    )
    kept = (
        fph.groupBy("fp_hash")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= WINNOW_MAXDF)
        .select("fp_hash")
    )
    fpk = fph.join(kept, "fp_hash")
    nfp = fpk.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_fp"))
    pairs = (
        fpk.select(F.col("doc_id").alias("doc_a"), "fp_hash")
        .join(
            fpk.select(F.col("doc_id").alias("doc_b"), "fp_hash"), "fp_hash"
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        pairs.join(
            nfp.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_fp_a")),
            "doc_a",
        )
        .join(
            nfp.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_fp_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            "n_fp_a",
            "n_fp_b",
            F.expr(
                "CAST((n_shared * 1000000) div least(n_fp_a, n_fp_b) AS BIGINT)"
            ).alias("containment_e6"),
        )
        .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
        .limit(10)
    )


@register(
    "q_text_symspell",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    dict AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n
        FROM toks WHERE w <> '' GROUP BY w
    ),
    typos AS (
        SELECT DISTINCT
               substr(w, 1, CAST(p - 1 AS INT))
                 || substr(w, CAST(p + 1 AS INT), length(w)) AS typo
        FROM (SELECT w,
                     ('0x' || substring(md5(w), 1, 10))::BIGINT
                       % length(w) + 1 AS p
              FROM dict WHERE length(w) >= 4) src
    ),
    dkeys AS (
        SELECT d.w, d.n,
               unnest(list_distinct(list_prepend(d.w,
                   list_transform(range(1, CAST(length(d.w) + 1 AS BIGINT)),
                       i -> substr(d.w, 1, CAST(i - 1 AS INT))
                            || substr(d.w, CAST(i + 1 AS INT),
                                      length(d.w)))))) AS key
        FROM dict d
    ),
    tkeys AS (
        SELECT t.typo,
               unnest(list_distinct(list_prepend(t.typo,
                   list_transform(range(1, CAST(length(t.typo) + 1 AS BIGINT)),
                       i -> substr(t.typo, 1, CAST(i - 1 AS INT))
                            || substr(t.typo, CAST(i + 1 AS INT),
                                      length(t.typo)))))) AS key
        FROM typos t
    ),
    cand AS (
        SELECT DISTINCT t.typo, d.w, d.n
        FROM tkeys t JOIN dkeys d USING (key)
    )
    SELECT typo, w AS suggestion, n AS dict_n,
           CAST(levenshtein(typo, w) AS BIGINT) AS ed
    FROM cand WHERE levenshtein(typo, w) <= 1
    ORDER BY typo, suggestion
    """,
    tags=("K2", "H12", "composite"),
)
def q_text_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYMSPELL fuzzy dictionary matching (Garbe's symmetric-delete
    algorithm [PK], the standard spell-correction index): match typo
    forms to the corpus vocabulary at edit distance <= 1 WITHOUT the
    all-pairs |V|^2 levenshtein sweep — both sides expand to their
    1-DELETION NEIGHBORHOODS ({w} plus every single-character
    deletion, len+1 keys per word), distance-<=1 pairs are exactly
    those sharing a key (equality / one insert / one delete / one
    substitution all collapse into the shared-deletion bucket), and
    a levenshtein check on the candidate pairs removes the distance-2
    false positives that share only a mutual deletion. The typo set
    is PLANTED deterministically (the fixture vocabulary is
    distance->=2 separated — verified, so organic matches would be
    vacuous): every word of length >= 4 is corrupted by deleting the
    character at portable-hash position md5_40(w) mod len + 1.

    Plan at 100 TB: the dictionary census is one map-side-combined
    groupBy; key expansion is a per-row transform (len+1 rows out,
    no data shuffled but the 8-40-byte keys); the candidate join is
    a hash equi-join whose fan-out is bounded by deletion-bucket
    occupancy — the SymSpell trade of |V| * (len+1) index rows for
    never touching |V|^2 pairs; the levenshtein verify runs on
    candidates only. This is the fuzzy-JOIN sibling of H12's scalar
    edit distance and the K2 banding discipline applied to keys
    instead of documents."""
    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    dic = toks.groupBy("w").agg(F.count("*").cast("bigint").alias("n"))
    dels = (
        "transform(sequence(1, CAST(length({c}) AS INT)),"
        " i -> concat(substring({c}, 1, i - 1),"
        " substring({c}, i + 1, length({c}))))"
    )
    # delete the character at 1-based position md5_40(w) mod len + 1
    cut = md5_int("w", 10) % F.length("w")
    typos = (
        dic.filter(F.length("w") >= 4)
        .select(
            F.concat(
                F.substring("w", 1, cut.cast("int")),
                F.substring("w", (cut + 2).cast("int"), F.length("w")),
            ).alias("typo")
        )
        .distinct()
    )
    dkeys = dic.select(
        "w",
        "n",
        F.explode(
            F.array_distinct(
                F.expr(
                    "concat(array(w), " + dels.format(c="w") + ")"
                )
            )
        ).alias("key"),
    )
    tkeys = typos.select(
        "typo",
        F.explode(
            F.array_distinct(
                F.expr(
                    "concat(array(typo), " + dels.format(c="typo") + ")"
                )
            )
        ).alias("key"),
    )
    cand = tkeys.join(dkeys, "key").select("typo", "w", "n").distinct()
    return (
        cand.filter(F.expr("levenshtein(typo, w) <= 1"))
        .select(
            "typo",
            F.col("w").alias("suggestion"),
            F.col("n").alias("dict_n"),
            F.expr("CAST(levenshtein(typo, w) AS BIGINT)").alias("ed"),
        )
    )


# Portable MinHash machinery: ONE md5-40 hash per shingle folded into
# the Mersenne domain, then 16 fixed affine permutations
# h_i = (a_i * h + b_i) mod (2^31 - 1). Constants are deterministic
# literals rendered identically into the Spark plan and the oracle
# SQL; a_i * h <= (2^31)^2 ~ 4.6e18 stays inside BIGINT.
MHP_P = 2_147_483_647
MHP_PERMS = tuple(
    (
        (48271 * (i + 1)) % MHP_P,
        (2_246_822_519 * (i + 1) + 12_345) % MHP_P,
    )
    for i in range(16)
)
MHP_BANDS = 4  # 4 bands x 4 rows
MHP_TAU_E6 = 500_000  # verify threshold: exact Jaccard >= 0.5


def _mhp_minexprs_sql(h: str) -> list[str]:
    return [
        f"MIN(({a} * {h} + {b}) % {MHP_P})" for a, b in MHP_PERMS
    ]


@register(
    "q_dedup_minhash_affine",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS s
        FROM toks, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t
    ),
    hv AS (
        SELECT doc_id,
               ('0x' || substring(md5(s), 1, 10))::BIGINT % {MHP_P} AS h
        FROM sh
    ),
    sig AS (
        SELECT doc_id,
               {", ".join(f"{e} AS m{i}" for i, e in enumerate(_mhp_minexprs_sql("h")))}
        FROM hv GROUP BY doc_id
    ),
    bands AS (
        {" UNION ALL ".join(
            f"SELECT doc_id, {b} AS band, "
            f"CAST(m{4 * b} AS VARCHAR) || '|' || CAST(m{4 * b + 1} AS VARCHAR)"
            f" || '|' || CAST(m{4 * b + 2} AS VARCHAR)"
            f" || '|' || CAST(m{4 * b + 3} AS VARCHAR) AS key FROM sig"
            for b in range(MHP_BANDS)
        )}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT c.da, c.db, CAST(COUNT(*) AS BIGINT) AS i
        FROM cand c
        JOIN sh a ON a.doc_id = c.da
        JOIN sh b ON b.doc_id = c.db AND b.s = a.s
        GROUP BY c.da, c.db
    )
    SELECT i.da AS doc_a, i.db AS doc_b, i.i AS n_shared,
           za.n AS sz_a, zb.n AS sz_b,
           CAST(i.i * 1000000 // (za.n + zb.n - i.i) AS BIGINT)
             AS jaccard_e6
    FROM inter i
    JOIN sz za ON za.doc_id = i.da
    JOIN sz zb ON zb.doc_id = i.db
    WHERE i.i * 1000000 >= {MHP_TAU_E6} * (za.n + zb.n - i.i)
    ORDER BY doc_a, doc_b
    """,
    tags=("K2", "composite"),
)
def q_dedup_minhash_affine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with the AFFINE permutation family + the full
    candidates->EXACT-VERIFY cascade, oracle-checked end-to-end:
    q_dedup_minhash_portable (the audit twin of the xxhash64
    production path) already pins portable signatures and the
    ESTIMATED Jaccard of band-colliding pairs; this query completes
    the production pipeline shape — LSH shortlist, then exact-Jaccard
    verification on candidates only, emitting TRUE verified pairs —
    as ONE checkable query, and swaps the 16-md5-per-shingle
    permutation family for the classic affine one
    (h_i = (a_i*h + b_i) mod (2^31 - 1), ONE md5 per shingle). A/B
    honestly measured (BASELINE.md round 12): at 16 permutations the
    two families are at PARITY (~0.5 s signature build at sf0.1,
    32-way) — the md5 count is not the bottleneck at this permutation
    count; the affine family's advantage is ALGORITHMIC (hash cost is
    constant in PERMS where the md5 family is linear — at the 128-256
    permutations production near-dedup uses, the gap is real).
    Pipeline: distinct 3-gram shingles -> one md5 per shingle -> 16
    min-aggregates (signature) -> 4 bands x 4 rows -> band-bucket
    equi-join -> exact-Jaccard verify (>= 0.5) on candidates only.
    The fixture's planted near-dups (J ~ 0.99) collide in all four
    bands, so the output is non-vacuous at every sf.

    Exactness: shingle hashing, permutations and band keys are pure
    integer arithmetic (a*h <= 2^62, no overflow); the verify is the
    exact integer cross i*10^6 >= tau_e6 * (|A|+|B|-i); jaccard_e6 is
    the one floor fixing (// parity on non-negative operands).

    Plan at 100 TB: the signature build is one map-side-combined
    groupBy carrying 16 running minima (128 bytes/doc state); the
    candidate join is bucket-bounded by band-key occupancy (never
    all-pairs — the K2 banding discipline); the verify joins shingles
    for CANDIDATE pairs only."""
    d = t(spark, sf_dir, "documents")
    # signature + verify + sizes
    sh = pin(shingles(d), "q_dedup_minhash_affine.sh")
    hv = sh.select("doc_id", (md5_int("shingle", 10) % MHP_P).alias("h"))
    sig = hv.groupBy("doc_id").agg(
        *[
            F.expr(f"MIN(({a} * h + {b}) % {MHP_P})").alias(f"m{i}")
            for i, (a, b) in enumerate(MHP_PERMS)
        ]
    )
    bands = _band_rows(
        sig,
        MHP_BANDS,
        4,
        lambda ms: F.concat_ws("|", *[m.cast("string") for m in ms]),
    )
    cand = _band_pairs(bands, "bucket")
    sz = sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    inter = (
        cand.join(
            sh.select(F.col("doc_id").alias("id_a"), "shingle"), "id_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b"), "shingle"),
            ["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("bigint").alias("i"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("sz_a")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("sz_b")), "id_b")
        .filter(
            F.col("i") * F.lit(1000000)
            >= F.lit(MHP_TAU_E6) * (F.col("sz_a") + F.col("sz_b") - F.col("i"))
        )
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            F.col("i").alias("n_shared"),
            "sz_a",
            "sz_b",
            F.expr(
                "CAST(i * 1000000 div (sz_a + sz_b - i) AS BIGINT)"
            ).alias("jaccard_e6"),
        )
    )
