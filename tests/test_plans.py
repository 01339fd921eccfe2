"""Plan-quality assertions (SURVEY.md §4): the 100-TB properties —
pushdown, pruning, broadcast choice, partial aggregation, top-k
pushdown — verified against the actual physical plans. A regression
here means a query silently degraded to a scale-hostile plan even
though its values still match the oracle.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from embarrassingly_parallel_image_classification_spark import registry
from embarrassingly_parallel_image_classification_spark.sources.formats import scratch
from embarrassingly_parallel_image_classification_spark.sources.tables import t
from tests.conftest import SF_SMOKE, SF_T2


def explain_str(df) -> str:
    sc = df.sparkSession.sparkContext
    return sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def plan_of(spark, name: str) -> str:
    return explain_str(registry.queries()[name](spark, SF_T2))


def test_filter_pushdown_reaches_parquet(spark):
    plan = plan_of(spark, "q_filter")
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity,30.0)" in plan
    assert "Not(EqualTo(l_returnflag,A))" in plan


def test_column_pruning(spark):
    plan = plan_of(spark, "q_project")
    # Only the five referenced columns are read — not all 11.
    assert "ReadSchema" in plan
    read_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_returnflag" not in read_line
    assert "l_shipdate" not in read_line
    assert "l_extendedprice" in read_line


def test_dim_joins_are_broadcast(spark):
    plan = plan_of(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semi_and_anti_use_join_types(spark):
    assert "LeftSemi" in plan_of(spark, "q_join_semi")
    assert "LeftAnti" in plan_of(spark, "q_join_anti")


def test_aggregation_is_two_phase(spark):
    """Partial (map-side) + final HashAggregate — the shuffle carries
    one row per (group, partition), never the raw fact table."""
    plan = plan_of(spark, "q_agg_basic")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "partial" in plan.lower()


def test_topk_uses_take_ordered(spark):
    assert "TakeOrderedAndProject" in plan_of(spark, "q_topk_global")


def test_per_group_topk_uses_window_group_limit(spark):
    """Spark's rank-limit pushdown: filters rn<=k inside the sort
    instead of ranking everything then filtering."""
    assert "WindowGroupLimit" in plan_of(spark, "q_topk_per_group")


def test_asof_join_has_no_nested_loop(spark):
    """The as-of join must stay window-based: a BroadcastNestedLoopJoin
    or CartesianProduct here means it regressed to the O(n·m) theta
    formulation that dies at scale."""
    plan = plan_of(spark, "q_join_asof")
    assert "NestedLoop" not in plan
    assert "Cartesian" not in plan


def test_no_classic_python_udf_in_library_paths(spark):
    """Every query except the deliberate J8 demo must stay off the
    pickled row-at-a-time Python path (BatchEvalPython). Arrow paths
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) are fine."""
    for name, fn in registry.queries().items():
        if name in ("q_udf_classic",) or name.startswith("q_stream"):
            continue
        df = fn(spark, SF_T2)
        plan = explain_str(df)
        assert "BatchEvalPython" not in plan, f"{name} uses a classic Python UDF"


def test_partition_pruning_on_partitioned_sink(spark):
    """Reading one year from the year-partitioned layout must prune
    partitions at planning time, not scan-and-filter."""
    registry.queries()["q_sink_partitioned"](spark, SF_T2).collect()  # ensure written
    path = scratch("orders_by_year", SF_T2)
    df = spark.read.parquet(path).filter(F.col("oyear") == 1997)
    plan = explain_str(df)
    assert "PartitionFilters: [isnotnull(oyear" in plan.replace("#", "").replace(")", "") or (
        "PartitionFilters" in plan and "oyear" in plan.split("PartitionFilters")[1][:100]
    )


def test_inference_is_arrow_vectorized(spark):
    plan = plan_of(spark, "q_infer_batch")
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_j1_lines_score_with_no_shuffle(spark):
    """The J1 lines score each partition where the scan lands it (no
    output order is owed, registry.py): the batch lines and the ensemble
    (which votes inside its UDF) have exactly one Python eval node and
    no Exchange or Sort anywhere, and q_infer_eval has no Exchange below
    its Python node, only its aggregate's above."""
    jvm = spark.sparkContext._jvm

    def simple_plan(name):
        df = registry.queries()[name](spark, SF_T2)
        return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")

    for name in ("q_infer_batch", "q_infer_batch_pbu", "q_infer_ensemble"):
        plan = simple_plan(name)
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        assert not re.search(r"\bSort\b", plan), f"{name} sorts:\n{plan}"
    lines = simple_plan("q_infer_eval").splitlines()
    python = [i for i, line in enumerate(lines) if "ArrowEvalPython" in line]
    exchange = [i for i, line in enumerate(lines) if "Exchange" in line]
    assert len(python) == 1, lines
    # the plan is one chain, so a later line is a descendant
    assert all(e < python[0] for e in exchange), "\n".join(lines)


def test_broadcast_dims_stay_broadcast_in_star_join(spark):
    """customer⋈nation⋈region: both dim joins broadcast, zero shuffles
    of the fact side for the join itself (the only Exchange allowed is
    the aggregation's)."""
    df = t(spark, SF_T2, "customer")
    n = F.broadcast(t(spark, SF_T2, "nation"))
    r = F.broadcast(t(spark, SF_T2, "region"))
    joined = df.join(n, df.c_nationkey == n.n_nationkey).join(
        r, n.n_regionkey == r.r_regionkey
    )
    plan = explain_str(joined)
    # formatted plans repeat node names in the detail section — count tree lines
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_tpch_q6_pushdown_and_pruning(spark):
    """Q6 is the pushdown showcase: predicates reach the scan and only
    the four referenced columns are read."""
    plan = plan_of(spark, "q_tpch_q6")
    assert "PushedFilters:" in plan
    pushed = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "l_quantity" in pushed
    read_line = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_line and "l_orderkey" not in read_line


def test_dedup_lsh_join_is_bucketed_not_cartesian(spark):
    """The LSH candidate join must be an equi-join on (band, sig) —
    a CartesianProduct/NestedLoop here means the bucketing silently
    degenerated to all-pairs, the exact thing LSH exists to avoid."""
    plan = plan_of(spark, "q_dedup_embedding_lsh")
    assert "Cartesian" not in plan
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    # The ONLY nested loop allowed is the deliberate map-only broadcast
    # of the tiny hyperplane table onto the corpus (bands*bits rows,
    # Cross BuildRight). Anything else nested-loop here means the
    # (band, sig) bucket join degenerated.
    nested = [l for l in tree.splitlines() if "NestedLoop" in l]
    assert all("Cross BuildRight" in l for l in nested), nested
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_upsert_latest_uses_window_group_limit(spark):
    """Latest-per-key must push the rank limit into the sort."""
    assert "WindowGroupLimit" in plan_of(spark, "q_upsert_latest")


def test_tpch_q21_exists_pair_is_one_census_pass(spark):
    """Q21's EXISTS/NOT-EXISTS pair is decided per ORDER from one
    (orderkey, suppkey) census + a same-key window (r12 rewrite) — the
    plan must scan lineitem exactly ONCE (the old SEMI+ANTI spelling
    scanned it three times) and must never degrade to a
    NestedLoop/Cartesian on the inequality residual."""
    plan = plan_of(spark, "q_tpch_q21")
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_tpch_q17_correlated_avg_is_one_fact_shuffle(spark):
    """Q17's decorrelated per-part AVG joins the pre-aggregate back to
    the fact; the part dim must broadcast, never sort-merge."""
    plan = plan_of(spark, "q_tpch_q17")
    assert "BroadcastHashJoin" in plan
    assert "Cartesian" not in plan


def test_tpch_q11_scalar_subquery_is_broadcast(spark):
    """The global-total scalar feeding Q11's HAVING threshold must
    arrive via BroadcastNestedLoopJoin of a 1-row relation (a plain
    CartesianProduct would shuffle the grouped side pointlessly)."""
    plan = plan_of(spark, "q_tpch_q11")
    assert "CartesianProduct" not in plan


# Queries where an unkeyed join is the DELIBERATE algorithm (cross/theta
# shapes or 1-row scalar broadcasts), not a degraded equi-join.
_CARTESIAN_OK = {
    "q_join_cross",          # C7: guarded cross join demo
    "q_join_range",          # C8: theta/range join (BNLJ by design)
    "q_join_asof",           # C9 oracle-shape uses a range pairing
    "q_knn_exact",           # broadcast crossJoin vs tiny query side
    "q_knn_self_join",       # the knn_exact kernel with a capped
                             # 500-vector block as BOTH sides (the
                             # kNN-join primitive; blocking composes
                             # it at scale)
    "q_knn_exact_pandas",    # same query-side broadcast
    "q_knn_filtered",        # pre-filtered corpus × tiny query side
                             # (q_knn_exact's shape behind a pushed
                             # metadata predicate)
    "q_class_knn_vote",      # rides knn_exact verbatim: broadcast of
                             # the 20-row query side × corpus is the
                             # documented K3 retrieval shape; the vote
                             # itself is a 100-row groupBy
    "q_stats_kruskal",       # 1-row ties3 scalar broadcast-crossed
                             # onto the 1-row totals frame
    "q_privacy_t_closeness", # dense (QI-groups × ~6-band domain) grid
                             # build + 1-row global-census scalar —
                             # both bounded by DOMAINS, never rows
    "q_feat_gini_gain",      # 1-row baseline-impurity scalar crossed
                             # onto the 4-row per-feature frame
    "q_knn_hamming",         # the K3 broadcast-query-side cross (5-row
                             # signature side × corpus), same shape as
                             # q_knn_exact
    "q_knn_hamming_rerank",  # same broadcast query-side cross in its
                             # stage-1 shortlist + the knn_exact
                             # recall-annotation join
    "q_dedup_embedding",     # demoted all-pairs verifier (docstring'd)
    "q_dedup_ngram_jaccard", # exact-Jaccard verifier (docstring'd)
    "q_tpch_q11",            # 1-row global-total scalar into HAVING
    "q_tpch_q22",            # 1-row positive-balance scalar threshold
    "q_scale_bloom_prune",   # 1-row Bloom-aggregate scalar
    "q_timeseries_gapfill",  # spine × types build is a deliberate cross
    "q_timeseries_ffill",    # same spine × types dense-grid build
    "q_graph_triangles",     # three 1-row aggregate scalars combined
    "q_quality_expectations",  # 1-row rule scalars assembled into report
    "q_dedup_embedding_lsh", # hyperplane table broadcast-crossJoined to
                             # every vector (constant-size right side);
                             # the candidate join is hash on (band, sig)
    "q_knn_ivf",             # query-set × centroid table (k×nprobe rows)
                             # cross for cell selection; corpus join is
                             # hash on cell
    "q_knn_ivf_filtered",    # same IVF probe shape (cell-selection
                             # cross), post-filter applied after fetch
    "q_knn_ivfpq",           # tiny query×centroid cross for cell
                             # probing; corpus prune is hash on cell
                             # (plan-pinned), ADC is an in-stage
                             # element_at expression
    "q_knn_pq",              # full-scan ADC: codes × broadcast per-query
                             # table cross IS the algorithm (every code
                             # row scored against every query table)
    "q_lake_multi_table_txn",  # two 1-row per-table aggregates combined
                               # into one report row (scalar crossJoin)
    "q_knn_lsh",             # MLlib approxSimilarityJoin internals
    "q_mine_hard_negatives", # anchors broadcast-crossJoined to the
                             # corpus scan (q_knn_exact's shape; the
                             # label predicate rides the join)
    "q_sample_negatives",    # 3-row draw-index literal broadcast onto
                             # the doc scan (map-side fanout)
    "q_eval_calibration",    # 1-row (min,max) scalar broadcast onto the
                             # scan for integer binning
    "q_rfm_segments",        # 1-row max-order-date anchor scalar
                             # broadcast onto the customer aggregate
    "q_eval_lift",           # 1-row total-count scalar broadcast onto
                             # the ranked frame for the NTILE closed form
    "q_funnel_window",       # 1-row signup-count scalar crossed into
                             # the single-row funnel report
    "q_agg_equidepth",       # 1-row total-count scalar broadcast for
                             # the NTILE closed-form bucket rule
    "q_dedup_retention_exact",  # 1-row max-doc-id plant-offset scalar
                                # crossed onto the planted-copy subset
                                # (q_dedup_semantic's offset pattern)
    "q_market_basket",       # 1-row order-count scalar crossed into
                             # the lift denominator
    "q_eval_pr_curve",       # 1-row positives-total scalar broadcast
                             # onto the thinned threshold frame
    "q_quality_benford",     # 1-row total-count scalar broadcast onto
                             # the 9-row digit census
    "q_feat_bucketize",      # 1-row global (min,max) bounds scalar
                             # broadcast onto the fact scan for the
                             # equi-width bucket assignment (the
                             # q_eval_calibration shape; pinned 1-row
                             # build side in
                             # test_feature_encoders_never_shuffle_...)
    "q_pipeline_features",   # the capstone inherits q_feat_bucketize's
                             # 1-row bounds cross for its price-bucket
                             # stage; every other stage joins hash on
                             # the category key
    "q_dedup_semantic",      # 1-row MAX(vec_id)+1 plant-offset scalar
                             # broadcast onto the planted-copy select;
                             # the pair search itself is a cid
                             # equi-self-join (SortMergeJoin)
    "q_text_vocab_growth",   # 1-row MAX(doc_id)+1 bucket-denominator
                             # scalar broadcast onto both censuses
                             # (kept in-plan; an eager collect was the
                             # review finding)
    "q_scale_skew_audit",    # 1-row stats × 1-row top-5 scalar report
                             # crossJoin; the fact table sees one
                             # map-side-combined groupBy only
    "q_cluster_kmeans",      # K·dim centroid cells broadcast-crossJoined
                             # onto every vector — the dense-distance
                             # kernel (q_knn_pq's shape); the K-row
                             # init limit rides the same plan
    "q_pipeline_curation",   # 1-row MAX(doc_id)+1 plant-offset scalar
                             # crossed onto the planted-copy subset
                             # (q_dedup_retention_exact's pattern); the
                             # dedup window is hash-partitioned on the
                             # digest and both probe joins are keyed
    "q_stats_runs_test",     # the 1-row exact-median scalar broadcast-
                             # crosses onto the sign pass (the
                             # q_feat_bucketize bounds-row shape)
    "q_train_gbt_stumps",    # the round-1 pick (1 row) broadcast-crosses
                             # onto the fact scan to form exact scaled
                             # residuals, and again onto round-2's pick
                             # for de-scaling — the q_feat_bucketize
                             # 1-row scalar-cross shape, twice
    "q_train_naive_bayes",   # the smoothed NB model table is a cross
                             # of BOUNDED dims (5 classes x train
                             # vocabulary x a 1-row vocab-size scalar)
                             # — the q_cluster_kmeans centroid-cross
                             # shape; the corpus itself only ever
                             # passes through keyed aggregates and a
                             # broadcast model join
    "q_join_not_in_nulls",   # the POINT of the query: nullable NOT IN
                             # compiles to a null-aware anti join that
                             # Spark can only run broadcast (BNLJ) —
                             # the docstring documents the NOT EXISTS
                             # rewrite as the 100-TB path; the other
                             # BNLJs are 1-row×1-row count scalars
    "q_knn_hamming_postdedup",  # the K3 broadcast-query-side cross
                             # (5-row signature/query side × corpus),
                             # run twice (pre/post-dedup cascades) +
                             # the knn_exact truth annotation — the
                             # q_knn_hamming_rerank shape, twice
    "q_train_tree_depth2",   # the 1-row root-split pick broadcast-
                             # crosses onto the fact scan to route rows
                             # L/R for the level-2 census — the
                             # q_train_gbt_stumps 1-row scalar-cross
                             # shape (a broadcast variable, not a join)
    "q_train_tree_depth3",   # same 1-row root scalar-cross; the
                             # level-2 -> level-3 routing is a plain
                             # broadcast HASH join on node (<=2 rows)
    "q_stats_cochran_q",     # 1-row row-census x 1-row column-census
                             # scalar cross into the Q statistic
    "q_stats_cramer_von_mises",  # value-domain cum frame x 1-row (n, m)
                             # totals scalar cross — the KS census
                             # shape with a summed (not max'd) gap
    "q_stats_mood_median",   # 1-row pooled-median scalar cross onto
                             # the fact scan for the above/below
                             # routing — the tree-depth2 root shape
    "q_agg_kmv_distinct",    # 1-row sketch x 1-row exact-truth scalar
                             # cross for the in-result error report
    "q_stats_jonckheere",    # the dense (value-domain x 5 groups) grid
                             # build is a 5-row broadcast cross (the
                             # q_stats_kendall grid shape) + the 1-row
                             # jt x 1-row moments scalar cross
    "q_stats_friedman",      # two 1-row aggregate scalars (n, A2)
                             # crossed onto the 5-row rank-sum frame
    "q_stats_page_trend",    # the Friedman frame's 1-row block-count
                             # scalar crossed onto the 1-row L2
                             # aggregate (5-row scored frame upstream)
    "q_graph_kcore",         # 1-row convergence certificate (count
                             # equality of the last two 25-row alive
                             # sets) crossed onto the 25-node output
    "q_train_perceptron",    # each epoch crosses the <=70-cell census
                             # with the 1-row weight vector (broadcast
                             # scalar cross), + the final audit cross
    "q_stats_kendall_w",     # the Friedman frame's two 1-row scalars
                             # (n, A2) crossed onto the 5-row rank-sum
                             # frame (identical to q_stats_friedman)
    "q_stats_cohen_kappa",   # 1-row totals x 1-row diagonal chance
                             # mass scalar cross off the 9-cell census
    "q_stats_cronbach_alpha",  # 1-row item-variance x 1-row
                             # total-variance scalar cross (+ the
                             # 1-row n onto two 5-row folds)
    "q_ts_ljung_box",        # 31-row day series x 1-row (n,S) scalar,
                             # x 7-row lag literal, x 1-row C0 — every
                             # cross side is calendar/constant-bounded
    "q_eval_brier",          # q_eval_calibration's 1-row (min,max)
                             # bounds cross onto the scan + a 1-row
                             # totals scalar onto the 10-bin frame
    "q_knn_sq8",             # the knn_exact recall-annotation cross
                             # (broadcast 5-row query side), same as
                             # q_knn_hamming; the code join is keyed
                             # on the 64-row dim domain
    "q_ts_granger",          # 29-row lag frame x 1-row Cramer
                             # coefficient scalar for the SSE pass —
                             # calendar-bounded both sides
    "q_stats_dunn",          # 5x5 upper-triangle self-join of the
                             # 5-row group-rank frame + the 1-row
                             # (N, ties) scalar cross — all
                             # domain-bounded (the Kruskal shape)
    "q_stats_tukey",         # same 10-row pair frame x 1-row
                             # (N, k, SSW) scalar cross — the ANOVA
                             # census shape
    "q_stats_games_howell",  # same 5x5 upper-triangle self-join of
                             # the 5-row census (no scalar cross even
                             # needed: Welch SE is pairwise, there is
                             # no pooled MSW)
}


# Queries whose unlimited root sort is the surface they exist to
# exercise. Everywhere else an output order is owed only where a LIMIT
# or top-k cuts on it (registry.py docstring): every check compares
# rows order-insensitively, so a root sort buys a range-sample job and
# a shuffle that nothing reads.
_ROOT_SORT_OK = {
    "q_sort",              # the range-partitioned sort path is its subject
    "q_sql_pipe",          # `|> ORDER BY` is one of the pipe operators
                           # it enumerates
    "q_sql_group_by_all",  # ORDER BY ALL is the syntax under test
}


def root_sorted(df) -> bool:
    """Whether the optimized plan's root, below any Project, Filter or
    SubqueryAlias, is a global Sort. A Sort under a limit is owed (the
    root is then the limit, planned as TakeOrderedAndProject)."""
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter", "SubqueryAlias"):
        node = node.children().apply(0)
    # Scala's Sort.global is a Python keyword
    return node.nodeName() == "Sort" and getattr(node, "global")()


def test_no_accidental_cartesian_anywhere(spark):
    """Global plan lint: an unlisted CartesianProduct or
    BroadcastNestedLoopJoin means some equi-join silently lost its key
    (the classic way a query regresses to O(n·m) at scale). Every
    allowlisted query documents WHY its unkeyed join is the algorithm.

    The same loop (one build per query) lints output order: the batch
    queries that end in a global sort are exactly ``_ROOT_SORT_OK``.
    The check reads the optimized plan, so a DataFrame ``orderBy`` and
    a trailing SQL ``ORDER BY`` are caught alike."""
    sorted_roots = set()
    for name, fn in registry.queries().items():
        if name.startswith("q_stream"):
            continue
        df = fn(spark, SF_T2)
        if root_sorted(df):
            sorted_roots.add(name)
        if name in _CARTESIAN_OK:
            continue
        plan = explain_str(df)
        assert "CartesianProduct" not in plan, f"{name} has a CartesianProduct"
        assert "BroadcastNestedLoopJoin" not in plan, f"{name} has a BNLJ"
    assert sorted_roots == _ROOT_SORT_OK, (
        f"root sorts no check reads: {sorted(sorted_roots - _ROOT_SORT_OK)}; "
        f"allowlisted but unsorted: {sorted(_ROOT_SORT_OK - sorted_roots)}"
    )


def test_weighted_sample_is_topk_not_full_sort(spark):
    """q_sample_weighted's n-smallest-priorities must plan as
    TakeOrderedAndProject (partition-local top-n + driver merge — the
    distributed reservoir shape), never a global sort-then-limit."""
    plan = plan_of(spark, "q_sample_weighted")
    assert "TakeOrderedAndProject" in plan
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert "Sort " not in tree  # no full sort node


def test_prefix_filter_join_has_no_cartesian(spark):
    """The prefix-filtered similarity join must stay equi-joined on the
    hashed shingle key — a Cartesian/NestedLoop means the lossless
    pruning degenerated to all-pairs."""
    plan = plan_of(spark, "q_dedup_ngram_jaccard")
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_pandas_api_compiles_to_native_plans(spark):
    """pyspark.pandas compiles to native operators: the groupby plans
    as a hash aggregate, head-after-sort as TakeOrderedAndProject.
    Known, documented exception (pandas_api.py docstring): boolean
    masks carry pandas NaN semantics (CASE WHEN wrappers), so the
    status predicate runs as a JVM Filter above the scan but is NOT
    pushed into PushedFilters — pin exactly that so a Spark upgrade
    that starts pushing it down gets noticed (and the docstring
    caveat removed)."""
    plan = plan_of(spark, "q_ps_groupby")
    assert "HashAggregate" in plan
    plan2 = plan_of(spark, "q_ps_pipeline")
    assert "TakeOrderedAndProject" in plan2
    assert "o_orderstatus" in plan2  # the mask survives as a Filter...
    pushed = [l for l in plan2.splitlines() if "PushedFilters" in l]
    assert pushed and all("o_orderstatus" not in l for l in pushed)


def test_cdc_chunking_single_doc_shuffle(spark):
    """q_text_cdc_chunks' only wide operations are the per-doc window
    and the final per-(doc,chunk) aggregate — both key on doc_id, and
    nothing may join or cartesian."""
    plan = plan_of(spark, "q_text_cdc_chunks")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "Window" in plan


def test_no_persist_in_library_source():
    """Source lint (round-4 verdict #1): a `.persist()` inside a library
    function that returns a lazy DataFrame can never be unpersisted, so
    cache-manager entries accumulate across calls — the leak class
    measured at 6× slowdown in ml/dedup.py:143-149. Library code must
    pin through localframe.pin (localCheckpoint(eager=True): the
    ContextCleaner reclaims the blocks when the plan is GC'd, and the
    job is labelled pin:<label>) or let the CALLER own caching, so
    `.localCheckpoint(` outside localframe.py is an offender too. The
    one allowed `.cache()` pair lives in ml/knn.py's IvfIndex build,
    whose lifetime is owned by the module-level _IVF_CACHE singleton
    (bounded, reused across calls — an index, not a leak)."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "embarrassingly_parallel_image_classification_spark"
    )
    offenders = []
    for py in sorted(pkg.rglob("*.py")):
        src = py.read_text()
        if ".persist(" in src:
            offenders.append(f"{py.name}: .persist(")
        if ".cache(" in src and py.name != "knn.py":
            offenders.append(f"{py.name}: .cache(")
        if ".localCheckpoint(" in src and py.name != "localframe.py":
            offenders.append(f"{py.name}: .localCheckpoint(")
    assert not offenders, offenders


def test_bm25_topk_is_take_ordered(spark):
    """BM25's top-20 must plan as TakeOrderedAndProject (partition-local
    top-k + driver merge), never a global sort; the query-term filter
    must ride a broadcast join, not a shuffle."""
    plan = plan_of(spark, "q_text_bm25")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_inverted_index_single_shuffle_two_phase(spark):
    """The inverted index is one explode + distinct + groupBy(word):
    partial+final aggregation with no join anywhere."""
    plan = plan_of(spark, "q_text_inverted_index")
    assert "Join" not in plan
    assert plan.count("HashAggregate") >= 2 or "ObjectHashAggregate" in plan


def test_bpe_pairs_explode_is_vocab_sized(spark):
    """BPE pair counting must aggregate words BEFORE exploding pairs
    (|vocab| rows explode, not |corpus| tokens): the plan shows the
    word-frequency aggregate below the pair generate."""
    plan = plan_of(spark, "q_text_bpe_pairs")
    tree = plan.split("== Physical Plan ==")[1]
    gen = tree.index("Generate")  # the pair explode
    # at least one completed aggregate must appear AFTER (deeper than)
    # the Generate node in the printed tree — i.e. executed before it
    assert "HashAggregate" in tree[gen:], "no word-freq agg below the explode"


def test_ivfpq_cell_prune_precedes_adc_join(spark):
    """IVFPQ's candidate frame must be cell-pruned BEFORE the codes
    posexplode feeds the ADC join: in the printed physical plan of the
    candidate stage, the Generate (posexplode of codes) must sit ABOVE
    a broadcast join on cell — i.e. the cell join executes first, so
    only probed-cell rows ever explode into (m, code) pairs."""
    from embarrassingly_parallel_image_classification_spark.ml import knn
    from embarrassingly_parallel_image_classification_spark.sources.tables import t

    emb = t(spark, SF_T2, "embeddings")
    queries = emb.filter(F.col("vec_id") < knn.N_QUERIES)
    idx = knn.ensure_ivfpq_index(spark, SF_T2)
    pos = idx.candidates(queries, nprobe=4).select(
        "qid", "vec_id", F.posexplode("codes").alias("m", "code")
    )
    plan = explain_str(pos)
    tree = plan.split("== Physical Plan ==")[1]
    gen = tree.index("Generate")
    # formatted explain: the tree shows node order, the numbered detail
    # section carries the join keys
    assert "BroadcastHashJoin" in tree[gen:], (
        "no broadcast join below the codes explode — pruning too late"
    )
    assert "Left keys [1]: [cell#" in plan, (
        "the pre-explode broadcast join is not keyed on cell"
    )


def test_corpus_shuffle_scale_paths(spark):
    """Round-6 promotion of q_corpus_shuffle: the bounded head must plan
    as TakeOrderedAndProject (no full-corpus single-partition window),
    and the full-permutation writer shuffled_corpus() must plan as ONE
    RangePartitioning exchange + within-partition sort — never a global
    Sort or a window."""
    from embarrassingly_parallel_image_classification_spark.ml.corpus import (
        shuffled_corpus,
    )
    from embarrassingly_parallel_image_classification_spark.sources.tables import t

    head_plan = plan_of(spark, "q_corpus_shuffle")
    assert "TakeOrderedAndProject" in head_plan, head_plan

    full = shuffled_corpus(t(spark, SF_T2, "documents"))
    plan = explain_str(full)
    assert "rangepartitioning(_shuffle_key" in plan.lower(), plan
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert tree.count("Exchange") == 1, "more than one shuffle in the writer"
    assert "Window" not in tree
    # the sort must be partition-local: the formatted Sort detail's
    # Arguments end "..., false, 0" (global=false)
    sort_detail = plan.split(") Sort")[1].split("\n\n")[0]
    assert "], false, 0" in sort_detail, sort_detail
    # round-trip sanity: concatenating partitions in order IS the
    # global permutation the bounded head exposes
    got_head = [
        r["doc_id"]
        for r in registry.queries()["q_corpus_shuffle"](spark, SF_T2).collect()
    ]
    import itertools

    first_ids = [
        r["doc_id"]
        for r in itertools.islice(full.select("doc_id").toLocalIterator(), 100)
    ]
    assert first_ids == got_head, "range-partitioned order != global permutation"


def test_twap_aggregate_reuses_window_shuffle(spark):
    """q_timeseries_twap keys its lead() window and its final aggregate
    on the same (event_type, hour) — the aggregate must reuse the
    window's hash partitioning, leaving exactly ONE Exchange in the
    whole plan (a second one means the co-keying broke)."""
    plan = plan_of(spark, "q_timeseries_twap")
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert tree.count("Exchange") == 1, f"expected 1 shuffle:\n{tree}"
    assert "Window" in plan


def test_alloc_prorata_windows_share_one_shuffle(spark):
    """q_alloc_prorata runs three window passes plus an aggregate all
    partitioned by l_orderkey — one lineitem shuffle must feed them
    all (each extra Exchange would re-shuffle the fact table), and the
    orders side joins broadcast at fixture scale."""
    plan = plan_of(spark, "q_alloc_prorata")
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 1, f"expected 1 non-broadcast shuffle:\n{tree}"


def test_seq_pattern_is_single_aggregate_pass(spark):
    """q_seq_pattern must build every user journey in ONE partial+final
    aggregate pass (a single user_id shuffle) — no window, no join, no
    second shuffle; the regex match is a post-aggregate filter."""
    plan = plan_of(spark, "q_seq_pattern")
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert tree.count("Exchange") == 1, f"expected 1 shuffle:\n{tree}"
    assert "Join" not in tree
    assert "Window" not in tree


def test_skyline_joins_frontier_broadcast(spark):
    """q_skyline's join-back of the (tiny) frontier must broadcast —
    a sort-merge join would shuffle the full part table against a
    frontier-sized build side. The only single-partition window must
    be the global phase over candidate pairs, never the raw data
    (checked structurally: the plan's windows sit above the distinct
    aggregate, not above the scan)."""
    plan = plan_of(spark, "q_skyline")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_mv_routing_never_scans_base_table(spark):
    """q_mv_routing's answer plan must read ONLY the materialized
    aggregate — an orders.parquet scan in the routed plan means the
    rewrite silently fell back to base and the MV is decorative. Also
    pins the navigator's refusal path: a grouping the MV can't answer
    must raise, not silently aggregate wrong."""
    import pytest as _pytest

    from embarrassingly_parallel_image_classification_spark.plans.scale import (
        route_rollup,
    )

    df = registry.queries()["q_mv_routing"](spark, SF_T2)
    df.collect()  # materialize the MV, then re-plan the read side
    plan = explain_str(df)
    scans = [ln for ln in plan.splitlines() if "Location" in ln]
    assert scans, "no file scan in routed plan"
    assert all("mv_priority_month" in ln for ln in scans), (
        f"routed plan scans the base table:\n{plan[:1500]}"
    )
    mv = spark.read.parquet(
        [ln for ln in scans if "mv_priority_month" in ln][0]
        .split("[")[-1]
        .split("]")[0]
    )
    with _pytest.raises(ValueError, match="missing"):
        route_rollup(mv, ["o_orderdate"], {"cents": "sum"})


def test_pipeline_curation_funnel_invariants(spark):
    """Structural self-oracle for the capstone beyond the DuckDB hash:
    the funnel must be MONOTONE (each stage keeps a subset of the
    previous — a flag computed off the wrong predecessor breaks this
    before it breaks the hash), stage 0 must equal corpus + planted
    copies exactly, and the per-(fold, lang) census (stage 5) must
    partition the mixed set (stage 4) with nothing lost or invented."""
    import pandas as pd

    rows = (
        registry.queries()["q_pipeline_curation"](spark, SF_T2)
        .toPandas()
        .sort_values(["stage", "lang", "fold"])
    )
    funnel = rows[rows["stage"] <= 4].set_index("stage")
    for s in range(1, 5):
        assert funnel.loc[s, "n_docs"] <= funnel.loc[s - 1, "n_docs"], s
        assert funnel.loc[s, "n_chars"] <= funnel.loc[s - 1, "n_chars"], s
    import pyarrow.parquet as pq

    md = pq.read_metadata(f"{SF_T2}/documents.parquet")
    n = md.num_rows
    tbl = pq.read_table(f"{SF_T2}/documents.parquet", columns=["doc_id"])
    n_planted = sum(1 for v in tbl["doc_id"].to_pylist() if v % 25 == 0)
    assert funnel.loc[0, "n_docs"] == n + n_planted
    folded = rows[rows["stage"] == 5]
    assert folded["n_docs"].sum() == funnel.loc[4, "n_docs"]
    assert folded["n_chars"].sum() == funnel.loc[4, "n_chars"]
    assert set(folded["fold"].unique()) <= {0, 1, 2, 3, 4}


def test_udf_cogroup_one_sided_groups(spark):
    """cogroup().applyInPandas must emit a row for a key present in
    only ONE input, with the absent side as an empty frame (the path a
    full-outer-join rewrite gets for free but a cogroup UDF must
    handle explicitly — len()=0 and a 0 sum, never a KeyError)."""
    import pandas as pd

    left = spark.createDataFrame(
        [(1, 100), (1, 50), (3, 7)], "nationkey BIGINT, cents BIGINT"
    )
    right = spark.createDataFrame(
        [(1, 10), (2, 20)], "nationkey BIGINT, cents BIGINT"
    )

    def census(key, cpdf, spdf):
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

    got = {
        r["nationkey"]: r.asDict()
        for r in left.groupBy("nationkey")
        .cogroup(right.groupBy("nationkey"))
        .applyInPandas(
            census,
            "nationkey BIGINT, n_cust BIGINT, n_supp BIGINT,"
            " cust_cents BIGINT, supp_cents BIGINT",
        )
        .collect()
    }
    assert got[1] == {
        "nationkey": 1, "n_cust": 2, "n_supp": 1,
        "cust_cents": 150, "supp_cents": 10,
    }
    assert got[2] == {
        "nationkey": 2, "n_cust": 0, "n_supp": 1,
        "cust_cents": 0, "supp_cents": 20,
    }
    assert got[3] == {
        "nationkey": 3, "n_cust": 1, "n_supp": 0,
        "cust_cents": 7, "supp_cents": 0,
    }


def test_feature_encoders_never_shuffle_the_fact_table(spark):
    """The Q-family feature transforms (ml/features.py) all claim the
    same plan shape: a category-domain- or single-row-sized aggregate,
    broadcast back onto the fact table, which itself is scanned once
    and NEVER shuffled or sort-merge-joined. Pin each query's physical
    plan to that claim — an SMJ or an extra non-broadcast Exchange
    means a spelling regressed into the skew-prone window form.

    Expected non-broadcast Exchange counts carry only aggregate
    partials (dict-sized), never fact rows: string_index = 2 (the
    count agg + the single-partition 5-row dict window), target_encode
    = 1 (the category agg), bucketize = 1 (the global min/max agg),
    onehot = 0 (vocab is learned in a separate bounded-collect job;
    the returned plan is a pure map-side Project)."""
    expected = {
        "q_feat_string_index": (2, "BroadcastHashJoin"),
        "q_feat_onehot": (0, None),
        "q_feat_target_encode": (1, "BroadcastHashJoin"),
        "q_feat_bucketize": (1, "BroadcastNestedLoop"),
    }
    for name, (n_shuffles, join_node) in expected.items():
        plan = plan_of(spark, name)
        tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
        got = tree.count("Exchange") - tree.count("BroadcastExchange")
        assert got == n_shuffles, f"{name}: {got} shuffles:\n{tree}"
        assert "SortMergeJoin" not in tree, f"{name}: SMJ crept in:\n{tree}"
        if join_node is None:
            assert "Join" not in tree, f"{name}: unexpected join:\n{tree}"
        else:
            assert join_node in tree, f"{name}: wanted {join_node}:\n{tree}"


def test_onehot_cardinality_guard(spark):
    """q_feat_onehot must refuse a category domain past ONEHOT_MAX_CARD
    instead of collecting it and emitting one Catalyst node per value
    (the driver-plan OOM path); the probe is a LIMIT ceiling+1, never
    a full collect of the oversized domain."""
    import pytest as _pytest

    from embarrassingly_parallel_image_classification_spark.ml import features

    wide = spark.range(features.ONEHOT_MAX_CARD + 10).select(
        F.col("id").alias("o_orderkey"),
        F.concat(F.lit("p"), F.col("id")).alias("o_orderpriority"),
    )
    path = scratch("onehot_guard", SF_T2)
    wide.write.mode("overwrite").parquet(f"{path}/orders.parquet")
    with _pytest.raises(ValueError, match="cardinality"):
        registry.queries()["q_feat_onehot"](spark, path)


def test_quantile_select_adversarial_inputs(spark):
    """q_agg_quantile_select's histogram-narrowing boundary math
    (ceil/floor bucket edges, in-bucket rank renumbering) against
    plain sorted selection on shapes the fixture can't produce:
    all-ties (every bucket edge degenerate), two clusters separated
    by a huge gap (forces deep narrowing on an almost-empty range),
    and a tiny n where every quantile is an edge rank."""
    import shutil

    from embarrassingly_parallel_image_classification_spark import registry

    cases = [
        [777] * 1000,                               # all ties
        [1] * 500 + [10**12] * 500,                 # huge-gap clusters
        [5, 3, 9],                                  # tiny n
        list(range(100_000, 0, -7)) * 2,            # dense dups, reversed
    ]
    for i, vals in enumerate(cases):
        path = scratch(f"qsel_{i}", SF_T2)
        shutil.rmtree(path, ignore_errors=True)
        spark.createDataFrame(
            [(v / 100.0,) for v in vals], "l_extendedprice DOUBLE"
        ).write.parquet(f"{path}/lineitem.parquet")
        got = {
            r["q"]: (r["k"], r["value"])
            for r in registry.queries()["q_agg_quantile_select"](
                spark, path
            ).collect()
        }
        s = sorted(vals)
        n = len(s)
        for q in (50, 90, 99):
            k = (n * q + 99) // 100
            assert got[q] == (k, s[k - 1]), (i, q, got[q], (k, s[k - 1]))


def test_group_median_select_adversarial_inputs(spark):
    """q_agg_group_median_select against plain per-group sorted
    selection on group shapes the fixture can't produce: a singleton
    group (k = 1 immediately), an all-ties group, a huge-gap group
    that forces deep narrowing, and groups converging after different
    round counts (exercises the active-group drop-out path)."""
    import shutil

    from embarrassingly_parallel_image_classification_spark import registry

    groups = {
        "S": [42],
        "T": [7] * 999,
        "G": [1] * 400 + [10**12] * 401,
        "D": [v for v in range(50_000, 0, -3)] * 3,
    }
    rows = [
        (g, v / 100.0) for g, vals in groups.items() for v in vals
    ]
    path = scratch("gmed_adv", SF_T2)
    shutil.rmtree(path, ignore_errors=True)
    spark.createDataFrame(
        rows, "l_returnflag STRING, l_extendedprice DOUBLE"
    ).write.parquet(f"{path}/lineitem.parquet")
    got = {
        r["g"]: (r["n"], r["k"], r["median_c"])
        for r in registry.queries()["q_agg_group_median_select"](
            spark, path
        ).collect()
    }
    for g, vals in groups.items():
        s = sorted(vals)
        n = len(s)
        k = (n + 1) // 2
        assert got[g] == (n, k, s[k - 1]), (g, got[g], (n, k, s[k - 1]))


def test_onehot_null_and_collision_guards(spark):
    """q_feat_onehot must refuse NULL categories (encoders consume
    post-imputation data) and value pairs whose sanitized indicator
    names collide ('1-URGENT' vs '1 urgent' → oh_1_urgent twice, which
    Spark would accept silently) — each with a clear error."""
    import shutil

    import pytest as _pytest

    from embarrassingly_parallel_image_classification_spark import registry

    for i, (vals, match) in enumerate(
        [
            (["1-URGENT", None], "NULL"),
            (["1-URGENT", "1 urgent"], "collide"),
        ]
    ):
        path = scratch(f"onehot_bad_{i}", SF_T2)
        shutil.rmtree(path, ignore_errors=True)
        spark.createDataFrame(
            [(j, v) for j, v in enumerate(vals)],
            "o_orderkey BIGINT, o_orderpriority STRING",
        ).write.parquet(f"{path}/orders.parquet")
        with _pytest.raises(ValueError, match=match):
            registry.queries()["q_feat_onehot"](spark, path)


def test_decorrelate_plan_has_no_nested_loop(spark):
    """q_sql_decorrelate exists to pin the optimizer contract: its four
    correlated scalar subqueries + EXISTS must decorrelate into
    aggregate-then-hash-join form. A BroadcastNestedLoopJoin or
    CartesianProduct here means Catalyst executed a per-customer probe
    of orders — the O(|customer|*|orders|) shape that dies at scale."""
    plan = plan_of(spark, "q_sql_decorrelate")
    assert "NestedLoop" not in plan
    assert "Cartesian" not in plan


def test_lateral_alias_plan_matches_expanded(spark):
    """q_sql_lateral_alias's plan claim pinned (a measured finding,
    not the naive expectation): the lateral-alias chain keeps `cents`
    as a materialized intermediate — the cast/round expression is
    evaluated ONCE in the optimized plan — while the hand-expanded
    spelling evaluates it 3x inside a single collapsed Project
    (CollapseProject does not re-factor common subexpressions). The
    alias spelling is the cheaper plan for repeated derivations."""
    import re

    from embarrassingly_parallel_image_classification_spark import registry

    sf = SF_SMOKE
    lca = registry.queries()["q_sql_lateral_alias"](spark, sf)
    expanded = spark.sql(
        """
        WITH x AS (
            SELECT o_orderpriority,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
                   CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                     - CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                       % 500000 AS bucket_cents,
                   (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                     - CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                       % 500000) div 100 AS bucket_dollars
            FROM __lca_orders
        )
        SELECT o_orderpriority, bucket_dollars,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(cents) AS BIGINT) AS min_cents,
               CAST(MAX(cents) AS BIGINT) AS max_cents
        FROM x
        GROUP BY o_orderpriority, bucket_dollars
        """
    )

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    n_lca = plan(lca).count("cast(round(")
    n_exp = plan(expanded).count("cast(round(")
    assert n_lca == 1  # aliased chain: cents computed once
    assert n_exp >= 3  # pre-expanded: recomputed per reference
    assert re.sub(r"#\d+L?", "#x", plan(lca)) != re.sub(
        r"#\d+L?", "#x", plan(expanded)
    )


def test_e6_fixing_spelled_once():
    """Source lint: the e6 DIV/MOD fixing (10^6 * the remainder, divided
    in double) is spelled only inside ``stats.fix_e6`` — in
    operators/stats.py and ml/features.py a ``F.lit(1000000.0)``
    multiplied by a ``%`` remainder appears nowhere else, and no
    ``F.expr`` string spells ``1000000.0 * CAST(...)``. Hand copies are
    where operand types and the quotient overflow drift apart."""
    import ast
    import pathlib

    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "embarrassingly_parallel_image_classification_spark"
    )

    def is_lit_1e6(node):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "lit"
            and len(node.args) == 1
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value == 1000000.0
            and isinstance(node.args[0].value, float)
        )

    def has_mod(node):
        return any(
            isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mod)
            for n in ast.walk(node)
        )

    found: dict[str, list] = {}
    for rel in ("operators/stats.py", "ml/features.py"):
        tree = ast.parse((pkg / rel).read_text())
        owner: dict[int, str] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                for ln in range(node.lineno, node.end_lineno + 1):
                    owner[ln] = node.name
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Mult)
                and (
                    (is_lit_1e6(node.left) and has_mod(node.right))
                    or (is_lit_1e6(node.right) and has_mod(node.left))
                )
            ):
                found.setdefault(owner.get(node.lineno, "<module>"), []).append(
                    f"{rel}:{node.lineno}"
                )
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "expr"
                and any(
                    isinstance(c, ast.Constant)
                    and isinstance(c.value, str)
                    and "1000000.0 *" in c.value
                    for a in node.args
                    for c in ast.walk(a)
                )
            ):
                found.setdefault(owner.get(node.lineno, "<module>"), []).append(
                    f"{rel}:{node.lineno} (F.expr)"
                )
    assert list(found) == ["fix_e6"] and len(found["fix_e6"]) == 1, found


def test_lakehouse_commits_through_one_claim():
    """Source lint: plans/lakehouse.py creates every manifest, catalog
    version and tag ref through ONE create-once claim (``_put_json``)
    and reads manifests through ONE reader (``_manifest``). A
    hand-copied tmp → json.dump → os.link sequence is how the copies
    drifted (a leaked tmp, a raw FileExistsError, a stale commit time),
    so ``os.link(tmp`` and ``json.dump(`` may appear only in the claim
    primitive and the metalog helpers. Likewise every next version
    publishes through the one commit loop: the module holds one
    ``while True`` (``_commit``), ``_publish`` is called only from
    ``_commit`` and the two writers that publish fixed versions
    (``snapshot_clone``, ``merge_branch_ff``), and the one-at-a-time
    rule's refusals are spelled only in ``_one_at_a_time``."""
    import ast
    import io
    import pathlib
    import tokenize

    src = (
        pathlib.Path(__file__).resolve().parents[1]
        / "embarrassingly_parallel_image_classification_spark"
        / "plans"
        / "lakehouse.py"
    ).read_text()
    owner: dict[int, str] = {}
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    offenders = []
    for i, line in enumerate(src.splitlines(), 1):
        fn = owner.get(i, "<module>")
        if ("os.link(tmp" in line or "json.dump(" in line) and not (
            fn == "_put_json" or fn.startswith("_metalog_")
        ):
            offenders.append(f"{i} {fn}: {line.strip()}")
        if "open(_manifest_path(" in line and fn != "_manifest":
            offenders.append(f"{i} {fn}: {line.strip()}")
        if "_publish(" in line and "def _publish(" not in line and fn not in (
            "_commit",
            "snapshot_clone",
            "merge_branch_ff",
        ):
            offenders.append(f"{i} {fn}: {line.strip()}")
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        fn = owner.get(tok.start[0], "<module>")
        if (
            tok.type == tokenize.STRING
            and fn != "_one_at_a_time"
            and any(
                phrase in tok.string
                for phrase in ("pending MoR delete", "renamed table", "compact_mor first")
            )
        ):
            offenders.append(f"{tok.start[0]} {fn}: {tok.string}")
    assert not offenders, offenders
    assert src.count("os.link(tmp") == 1
    assert src.count("while True") == 1


def _calls_by_function(rel: str, match) -> dict[str, list[int]]:
    """{innermost enclosing def: [line, ...]} of the calls in package
    module `rel` for which `match(call)` holds."""
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parents[1]
        / "embarrassingly_parallel_image_classification_spark"
        / rel
    )
    tree = ast.parse(path.read_text())
    owner: dict[int, str] = {}
    for node in ast.walk(tree):  # outer defs first, inner ones overwrite
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    found: dict[str, list[int]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and match(node):
            found.setdefault(owner.get(node.lineno, "<module>"), []).append(node.lineno)
    return found


def test_knn_rank_cut_spelled_once():
    """Source lint: the kNN rank cut's order (sim desc, vec_id asc) is
    spelled only inside ``knn._top_k``: every tier ranks through it, so
    the tie-break cannot drift between the exact verifier and a tier."""
    import ast

    found = _calls_by_function(
        "ml/knn.py",
        lambda c: c.func.attr == "orderBy"
        and [ast.unparse(a) for a in c.args] == ["F.desc('sim')", "F.asc('vec_id')"],
    )
    assert list(found) == ["_top_k"] and len(found["_top_k"]) == 1, found


def test_moment_census_spelled_once():
    """Source lint: the trainers, the corpus statistics and the time
    series read (n, Σx, Σy, Σxy, Σx², Σy²) from ``stats.moment_census``;
    none of them aliases its own ``sxy`` / ``sxx`` sum."""
    import ast

    for rel in ("ml/training.py", "ml/corpus.py", "operators/timeseries.py"):
        found = _calls_by_function(
            rel,
            lambda c: c.func.attr == "alias"
            and any(isinstance(a, ast.Constant) and a.value in ("sxy", "sxx") for a in c.args),
        )
        assert not found, (rel, found)


def test_training_spark_quotients_avoid_div():
    """Source lint: no Spark-side ``F.expr`` / ``selectExpr`` string in
    ml/training.py divides with ``div``, which returns BIGINT and wraps
    silently past 2^63; quotients go through ``stats.trunc_div``. The
    DuckDB oracle strings are not Spark calls and are not checked."""
    import ast
    import re

    found = _calls_by_function(
        "ml/training.py",
        lambda c: c.func.attr in ("expr", "selectExpr")
        and any(
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and re.search(r"\bdiv\b", n.value, re.IGNORECASE)
            for a in c.args
            for n in ast.walk(a)
        ),
    )
    assert not found, found


def _package_calls(match) -> dict[tuple[str, str], list[int]]:
    """{(module, innermost enclosing def): [line, ...]} of the calls in
    every package module for which `match(call)` holds."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "embarrassingly_parallel_image_classification_spark"
    )
    found: dict[tuple[str, str], list[int]] = {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        for fn, lines in _calls_by_function(rel, match).items():
            found[(rel, fn)] = lines
    return found


def test_money_to_cents_spelled_once():
    """Source lint: the money rule (HALF_UP of x·100, cast to BIGINT) is
    spelled on the Spark side only in ``tables.cents``: no other call
    rounds a column ``* 100, 0``, and no ``expr``/``selectExpr`` string
    carries ``ROUND(<col> * 100, 0)``. Ratio roundings (a quotient
    times 100) are not money and are not matched; the DuckDB oracle
    strings are not Spark calls and are not checked."""
    import ast

    rule = re.compile(r"ROUND\(\s*[\w.{}]+\s*\*\s*100\s*,\s*0\s*\)", re.IGNORECASE)

    def is_column(node) -> bool:
        if isinstance(node, ast.Constant):
            return isinstance(node.value, str)
        return isinstance(node, ast.Call) and ast.unparse(node.func) in ("F.col", "col")

    def match(c) -> bool:
        if c.func.attr == "round" and c.args:
            x = c.args[0]
            return (
                isinstance(x, ast.BinOp)
                and isinstance(x.op, ast.Mult)
                and isinstance(x.right, ast.Constant)
                and x.right.value == 100
                and is_column(x.left)
                and (len(c.args) < 2 or ast.unparse(c.args[1]) == "0")
            )
        return c.func.attr in ("expr", "selectExpr") and any(
            rule.search(ast.unparse(a)) for a in c.args
        )

    found = _package_calls(match)
    assert set(found) <= {("sources/tables.py", "cents")}, found
    # spark.sql texts (the SQL front-end lines) render the rule through
    # tables.cents_sql; q_sql_portable and q_sql_decorrelate run their
    # oracle's own text on purpose.
    sql_rule = re.compile(
        r"ROUND\((?:[^()]|\([^()]*\))*?\*\s*100\s*,\s*0\s*\)", re.IGNORECASE
    )
    found = {
        k: v for k, v in _sql_texts().items() if any(sql_rule.search(x) for x in v)
    }
    assert set(found) <= {
        ("plans/tpch2.py", "q_sql_portable"),
        ("plans/tpch2.py", "q_sql_decorrelate"),
    }, found


def _sql_texts() -> dict[tuple[str, str], list[str]]:
    """{(module, innermost enclosing def): [text, ...]} of the literal
    SQL reaching each ``spark.sql`` call in the package: string and
    f-string arguments (their literal parts) and names bound to them in
    the enclosing function or at module level, followed once."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "embarrassingly_parallel_image_classification_spark"
    )
    out: dict[tuple[str, str], list[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner: dict[int, ast.AST] = {}
        for node in ast.walk(tree):  # outer defs first, inner ones overwrite
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for ln in range(node.lineno, node.end_lineno + 1):
                    owner[ln] = node

        def bound(scope) -> dict[str, ast.AST]:
            return {
                t.id: n.value
                for n in ast.walk(scope)
                if isinstance(n, ast.Assign)
                for t in n.targets
                if isinstance(t, ast.Name)
            }

        module_names = bound(tree)
        for call in ast.walk(tree):
            if not (
                isinstance(call, ast.Call)
                and isinstance(call.func, ast.Attribute)
                and call.func.attr == "sql"
            ):
                continue
            fn = owner.get(call.lineno)
            names = {**module_names, **(bound(fn) if fn else {})}
            texts = []
            todo = list(call.args) + [k.value for k in call.keywords]
            seen = set()
            while todo:
                node = todo.pop()
                for n in ast.walk(node):
                    if isinstance(n, ast.Constant) and isinstance(n.value, str):
                        texts.append(n.value)
                    elif isinstance(n, ast.Name) and n.id in names and n.id not in seen:
                        seen.add(n.id)
                        todo.append(names[n.id])
            key = (path.relative_to(pkg).as_posix(), fn.name if fn else "<module>")
            out.setdefault(key, []).extend(texts)
    return out


def test_portable_hash_spelled_once():
    """Source lint: the portable hash (md5 hex digits read as an
    integer) is spelled on the Spark side only in
    ``functions.hashing.md5_int``, which owns the width rule (15 hex
    digits fit a signed BIGINT, 16 need DECIMAL(20,0)): no other call
    is ``conv``, and no ``expr``/``selectExpr`` string carries
    ``conv(``. The DuckDB oracles keep their own ``('0x' || …)::BIGINT``
    spelling and are not checked."""
    import ast

    def match(c) -> bool:
        if c.func.attr == "conv":
            return True
        return c.func.attr in ("expr", "selectExpr") and any(
            "conv(" in ast.unparse(a) for a in c.args
        )

    found = _package_calls(match)
    assert list(found) == [("functions/hashing.py", "md5_int")], found


def test_dedup_family_steps_spelled_once():
    """Source lint: each step the near-duplicate tiers share is spelled
    once in ``ml/dedup.py`` — the exact tau rational
    (``_tau_rational``), the rare-first ranking (``_rare_first_prefix``:
    the only window ordered by document frequency), the integer ceil
    bound and the ``array_intersect`` verify of the prefix join
    (``_prefix_join``; containment keeps its own verify), the banded
    LSH candidate join (``_band_pairs``: the only join on ``band``), and
    Charikar's bit-vote fold (``_charikar``: the only ``shiftright``)."""
    import ast

    def calls(match) -> set[str]:
        return set(_calls_by_function("ml/dedup.py", match))

    def arg_text(c) -> str:
        return " ".join(ast.unparse(a) for a in c.args)

    assert calls(lambda c: c.func.attr == "limit_denominator") == {"_tau_rational"}
    assert calls(
        lambda c: c.func.attr == "orderBy" and "df" in arg_text(c)
    ) == {"_rare_first_prefix"}
    assert calls(
        lambda c: c.func.attr == "expr" and re.search(r"\* sz\w* \+", arg_text(c))
    ) == {"_prefix_join"}
    assert calls(lambda c: c.func.attr == "array_intersect") == {
        "_prefix_join",
        "q_dedup_containment",
    }
    assert calls(
        lambda c: c.func.attr == "join"
        and not isinstance(c.func.value, ast.Constant)  # str.join
        and "band" in arg_text(c)
    ) == {"_band_pairs"}
    assert calls(lambda c: c.func.attr == "shiftright") == {"_charikar"}


def test_session_confs_set_in_session_or_restored():
    """Source lint: a query never leaves a session conf behind. A
    ``conf.set`` in the package sits in ``session.py`` (the
    ENGINE_CONFS every query runs under) or in a function that restores
    the same key in a ``finally`` (set back or unset), as
    ``streaming/core.py``, ``sources/formats.py`` and ``plans/tpch2.py``
    do. A conf read only when the plan runs, after the query function
    returned, cannot be restored and belongs in ENGINE_CONFS."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "embarrassingly_parallel_image_classification_spark"
    )

    def conf_calls(node, verbs):
        return [
            c
            for c in ast.walk(node)
            if isinstance(c, ast.Call)
            and isinstance(c.func, ast.Attribute)
            and c.func.attr in verbs
            and ast.unparse(c.func.value).endswith("conf")
            and c.args
        ]

    left: list[str] = []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        if rel == "session.py":
            continue
        tree = ast.parse(path.read_text())
        owner: dict[int, ast.AST] = {}
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for ln in range(node.lineno, node.end_lineno + 1):
                    owner[ln] = node
        for c in conf_calls(tree, ("set",)):
            fn = owner.get(c.lineno)
            restored = {
                ast.unparse(r.args[0])
                for t in (ast.walk(fn) if fn else ())
                if isinstance(t, ast.Try)
                for s in t.finalbody
                for r in conf_calls(s, ("set", "unset"))
            }
            if ast.unparse(c.args[0]) not in restored:
                left.append(f"{rel}:{c.lineno} {ast.unparse(c)}")
    assert not left, left


def test_apply_in_pandas_with_state_only_in_drain_builder():
    """Source lint: every stateful stream line runs through
    ``streaming.core.drain_stateful``, the one owner of the state
    read/update, ``n_total`` and the last-emission drain; no query
    calls ``applyInPandasWithState`` itself."""
    found = _package_calls(lambda c: c.func.attr == "applyInPandasWithState")
    assert list(found) == [("streaming/core.py", "drain_stateful")], found


# Pairs of top-level definitions that may share a repeated 6-line block,
# each with its reason. ``name@oracle`` is the ``@register`` decorator
# (the oracle text) of query function ``name``. Only two kinds belong
# here: an oracle and the engine-side SQL it checks (oracles share no
# code with the engine), and implementations a docstring says are kept
# apart on purpose.
_BLOCK_REPEATS_ALLOWED = {
    ("operators/graph.py:_sssp_oracle", "operators/graph.py:q_graph_shortest_path"): (
        "oracle text and the engine-side SQL it checks: both end in the "
        "same infinity-to-NULL projection of the last relaxation round"
    ),
    (
        "plans/tpch2.py:q_sql_lateral_alias",
        "plans/tpch2.py:q_sql_lateral_alias@oracle",
    ): (
        "oracle text and the engine-side SQL it checks: the oracle is the "
        "fully expanded spelling of the same aggregate over the same "
        "buckets"
    ),
}


def _package_blocks(window: int = 6, min_chars: int = 120) -> dict[tuple, list]:
    """{6-line block: [(owner, line), ...]} over the package's ``.py``
    files: each line stripped, blank, ``#`` comment and import lines
    dropped, blocks under ``min_chars`` characters skipped. The owner
    is ``module:name`` of the enclosing top-level definition, with
    ``@oracle`` for a query function's ``@register`` decorator."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "embarrassingly_parallel_image_classification_spark"
    )
    blocks: dict[tuple, list] = {}
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        src = path.read_text()
        spans = []  # (first, last, owner) per top-level statement
        for node in ast.parse(src).body:
            name = getattr(node, "name", None)
            if name is None and isinstance(node, (ast.Assign, ast.AnnAssign)):
                target = node.targets[0] if isinstance(node, ast.Assign) else node.target
                name = ast.unparse(target)
            name = f"{rel}:{name or node.lineno}"
            decos = getattr(node, "decorator_list", [])
            if decos:
                spans.append((decos[0].lineno, node.lineno - 1, name + "@oracle"))
            spans.append((node.lineno, node.end_lineno, name))

        def owner(line: int) -> str:
            return next((o for a, b, o in spans if a <= line <= b), f"{rel}:?")

        kept = []
        for i, raw in enumerate(src.splitlines(), 1):
            s = raw.strip()
            if not s or s.startswith("#") or re.match(r"from \S+ import |import ", s):
                continue
            kept.append((i, s))
        for k in range(len(kept) - window + 1):
            block = tuple(s for _, s in kept[k : k + window])
            if sum(map(len, block)) >= min_chars:
                line = kept[k][0]
                blocks.setdefault(block, []).append((owner(line), line))
    return blocks


def test_no_block_repeats_in_package():
    """Source lint: no 6-line block (stripped lines, blanks, comments
    and imports dropped, blocks under 120 characters ignored) occurs
    twice anywhere in the package. A pattern used twice is one
    function, or one oracle-only fragment on the oracle side; the only
    repeats allowed are the pairs in ``_BLOCK_REPEATS_ALLOWED``."""
    allowed = {tuple(sorted(pair)) for pair in _BLOCK_REPEATS_ALLOWED}
    bad = set()
    for block, where in _package_blocks().items():
        for i, (a, la) in enumerate(where):
            for b, lb in where[i + 1 :]:
                if tuple(sorted((a, b))) not in allowed:
                    bad.add(f"{a} (line {la}) and {b} (line {lb}): {block[0]!r}")
    assert not bad, "repeated blocks:\n" + "\n".join(sorted(bad))
