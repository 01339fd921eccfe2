"""Iterative graph analytics over the relational fixture — PageRank.

Complements the connected-components dedup clustering (ml/dedup.py's
iterative min-label propagation): PageRank is the other canonical
fixed-iteration-count graph workload, here over the trade graph
``customer-nation → supplier-nation`` induced by lineitem.

Determinism design (what makes an ITERATIVE float algorithm
oracle-checkable at all): ranks live in fixed-point BIGINT units of
1e-12, every per-iteration op is integer (``DIV`` for the out-degree
split and the 0.85 damping), and sums of integers are
order-independent — so 10 iterations on Spark and 10 chained CTEs on
DuckDB produce bit-identical ranks, with zero float drift. Dangling
mass (nodes with no out-edges) is dropped, the standard simplification,
identically in both engines.

Scale notes: each iteration is one shuffle (groupBy dst) plus two
broadcast joins (ranks and out-degrees are |V|-sized, tiny next to
|E|). At 100 TB the edges DataFrame would be the pinned side and
``ranks`` would be pinned every few iterations to truncate the growing
lazy plan; at fixture size the 10-deep lazy plan is cheap
and keeps the query a pure function of its inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..localframe import pin
from ..registry import register
from ..sources.tables import t

D38 = "decimal(38,0)"

_SCALE = 10**12  # fixed-point unit: 1 rank point = 1e-12
_DAMP_NUM, _DAMP_DEN = 85, 100  # d = 0.85 as an integer ratio
_ITERS = 10

_EDGES_SQL = """
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
"""


def _trade_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 4-table lineitem→orders→customer→supplier relation every
    graph query derives its nation edges from — ONE definition for the
    five edge builds (pagerank, BFS, triangles, SSSP, label
    propagation), which used to re-type the join chain verbatim
    (review finding: a join-key change needed five synchronized
    edits). Callers apply their own filter/aggregate/canonicalization;
    the SQL-oracle twin of this definition is _EDGES_SQL's FROM/JOIN
    block."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
    )


def _undirected_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trade graph's distinct undirected edges (a, b), a < b, no
    self-loops — shared by triangles, clustering coefficient and
    assortativity, each of which reads it from two or more consumers.
    Pinned, so the 4-table edge derivation runs once per query."""
    return pin(
        _trade_base(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.least("c_nationkey", "s_nationkey").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").alias("b"),
        )
        .distinct(),
        "undirected_edges",
    )


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, degree) of an undirected (a, b) edge list."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )


def _pagerank_oracle() -> str:
    """Chained-CTE DuckDB oracle: it0..itN, each one join+group-by —
    the same dataflow the Spark loop builds, in pure ANSI SQL."""
    base = f"({_DAMP_DEN - _DAMP_NUM} * ({_SCALE} // (SELECT COUNT(*) FROM nation))) // {_DAMP_DEN}"
    ctes = [
        f"edges AS ({_EDGES_SQL})",
        "outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        f"it0 AS (SELECT node, CAST({_SCALE} // (SELECT COUNT(*) FROM nation) AS BIGINT) AS r FROM nodes)",
    ]
    for k in range(_ITERS):
        ctes.append(
            f"""it{k + 1} AS (
        SELECT n.node,
               CAST({base} + ({_DAMP_NUM} * COALESCE(SUM(p.r // od.d), 0)) // {_DAMP_DEN}
                    AS BIGINT) AS r
        FROM nodes n
        LEFT JOIN edges e ON e.dst = n.node
        LEFT JOIN it{k} p ON p.node = e.src
        LEFT JOIN outdeg od ON od.src = e.src
        GROUP BY n.node)"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, r AS rank_fp, r / {float(_SCALE)} AS rank FROM it{_ITERS}"
    )


@register("q_graph_pagerank", oracle=_pagerank_oracle(), tags=("iterative", "E", "K"))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (d=0.85, 10 iterations) over the nation-level trade
    graph, in exact fixed-point arithmetic. See module docstring for
    why the integer formulation is what makes this oracle-checkable.

    Iteration shape: the fixed iteration count is UNROLLED into one
    chained-CTE plan (it0..it10, same dataflow as the oracle) handed to
    Catalyst in a single spark.sql call. A driver-side DataFrame loop
    re-analyzes a plan that grows with every iteration (quadratic
    Python→JVM analysis; measured 4.5–5 s warm at sf0.1 even with lazy
    lineage cuts), while the unrolled plan is analyzed once:
    1.9–2.5 s — the engine, not the driver, owns the dataflow.
    The derived edge set is pinned once so the 4-table join runs once,
    not per-iteration, and coalesced to 1 partition because the
    DISTINCT nation-pair graph is ≤|V|² rows; at real scale (edges ≫
    memory) keep natural partitioning and switch to the driver-loop +
    checkpoint-every-few-iterations pattern, which bounds plan depth
    when the iteration count is data-dependent rather than fixed."""
    edges = pin(
        _trade_base(spark, sf_dir)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
        .coalesce(1),
        "q_graph_pagerank.edges",
    )
    nodes = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    # |V| is a bounded dim-table scalar (25 rows) — a driver-side count
    # here is the documented exception to the no-collect rule.
    n_nodes = nodes.count()
    init = _SCALE // n_nodes
    base = (_DAMP_DEN - _DAMP_NUM) * init // _DAMP_DEN
    ctes = [
        "outdeg AS (SELECT src, COUNT(*) AS d FROM {edges} GROUP BY src)",
        f"it0 AS (SELECT node, CAST({init} AS BIGINT) AS r FROM {{nodes}})",
    ]
    for k in range(_ITERS):
        # Round-12 negative result, recorded: BROADCAST hints on the
        # bounded join sides do NOT help here. Hinting all three sides
        # (e, p, od) funnels every iteration's rank frame through a
        # driver broadcast collect (1.8 -> 3.1 s); hinting only the
        # static sides (e, od) measured 2.46 s unhinted vs 2.88 s
        # hinted warm, back-to-back same session — AQE already
        # localizes the tiny exchanges at runtime, and the chain's
        # wall cost is sequential stage coordination, not join
        # strategy. Keep the plain spelling.
        ctes.append(
            f"""it{k + 1} AS (
        SELECT n.node,
               CAST({base} AS BIGINT)
                 + ({_DAMP_NUM} * coalesce(SUM(p.r DIV od.d), CAST(0 AS BIGINT)))
                   DIV {_DAMP_DEN} AS r
        FROM {{nodes}} n
        LEFT JOIN {{edges}} e ON e.dst = n.node
        LEFT JOIN it{k} p ON p.node = e.src
        LEFT JOIN outdeg od ON od.src = e.src
        GROUP BY n.node)"""
        )
    sql = (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, r AS rank_fp,"
        f" r / CAST({_SCALE} AS DOUBLE) AS rank FROM it{_ITERS}"
    )
    return spark.sql(sql, edges=edges, nodes=nodes)


@register(
    "q_recursive_bfs",
    oracle=f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    reach(node, hops) AS (
        SELECT CAST(0 AS INT) AS node, 0 AS hops
        UNION ALL
        SELECT e.dst AS node, r.hops + 1 AS hops
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hops < 3
    )
    SELECT node, MIN(hops) AS hops FROM reach GROUP BY node
    """,
    tags=("iterative", "E"),
)
def q_recursive_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shortest-hop BFS from nation 0 over the trade graph via a
    RECURSIVE CTE (Spark 4 supports WITH RECURSIVE — the declarative
    dual of q_graph_pagerank's driver-side loop; the engine, not the
    caller, owns the iteration). The bounded-depth UNION ALL expansion
    plus an outer MIN collapses paths to first-reach distance; all
    integer, so exact everywhere. Scale note: UNION-ALL recursion
    re-enumerates paths (breadth explosion on dense graphs) — bound the
    depth and aggregate outside, or use the q_graph_pagerank loop shape
    with a frontier-minus-visited anti-join for unbounded traversals."""
    edges = (
        _trade_base(spark, sf_dir)
        .select(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .distinct()
    )
    return spark.sql(
        """
        WITH RECURSIVE reach(node, hops) AS (
            SELECT CAST(0 AS INT) AS node, 0 AS hops
            UNION ALL
            SELECT e.dst AS node, r.hops + 1 AS hops
            FROM reach r JOIN {edges} e ON e.src = r.node
            WHERE r.hops < 3
        )
        SELECT node, MIN(hops) AS hops FROM reach GROUP BY node
        """,
        edges=edges,
    )


@register(
    "q_graph_triangles",
    oracle=f"""
    WITH base AS ({_EDGES_SQL}),
    e AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
          FROM base WHERE src <> dst)
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*) FROM (SELECT u FROM e UNION SELECT v FROM e)) AS n_vertices,
           (SELECT COUNT(*)
            FROM e e1 JOIN e e2 ON e2.u = e1.v
                      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
    """,
    tags=("E", "C6"),
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the undirected trade graph — the
    clustering-coefficient / community-detection primitive. Edges are
    canonicalized u<v so each triangle a<b<c is produced exactly once
    by the two-hop equi-join chain e(a,b)⋈e(b,c)⋈e(a,c); every join is
    a hash join on vertex ids (no theta join), the textbook distributed
    triangle enumeration. At scale the standard refinement — orient
    edges by degree so high-degree hubs never fan out — drops straight
    into this shape."""
    e = _undirected_edges(spark, sf_dir)
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_vertices = (
        e.select(F.col("a").alias("x"))
        .union(e.select(F.col("b").alias("x")))
        .distinct()
        .agg(F.count("*").alias("n_vertices"))
    )
    e2 = e.select(F.col("a").alias("b2"), F.col("b").alias("c2"))
    e3 = e.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e.join(e2, F.col("b2") == F.col("b"))
        .join(e3, (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c2")))
        .agg(F.count("*").alias("n_triangles"))
    )
    return n_edges.crossJoin(n_vertices).crossJoin(tri)


_SSSP_ROUNDS = 8
_SSSP_INF = 10**15

_WEDGES_SQL = """
    SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
           MIN(CAST(ROUND(l.l_quantity, 0) AS BIGINT)) AS w
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY c.c_nationkey, s.s_nationkey
"""


def _sssp_round_sql(k: int, edges: str) -> str:
    """One Bellman-Ford relaxation as SQL over an edge set that
    INCLUDES a zero-weight self-loop per node: d_{k+1}(n) = min over
    incoming edges of d_k(src) + w — the self-loop carries d_k(n)
    itself, so "keep the old distance" needs no second reference to
    d{k}. That single reference is the load-bearing property: Spark
    INLINES every CTE reference (verified: the two-reference spelling
    expanded 2^rounds ≈ 510 duplicate scans, 19k plan nodes, ~9 s for
    a 25-node graph), so one-ref-per-round is what keeps the unrolled
    plan LINEAR in the round count. The INF sentinel keeps the
    arithmetic NULL-free (engines disagree on NULL propagation through
    LEAST/aggregates); the CASE guard stops INF + w creep."""
    return f"""d{k + 1} AS (
        SELECT e.dst AS node,
               MIN(CASE WHEN p.dist >= {_SSSP_INF} THEN {_SSSP_INF}
                        ELSE p.dist + e.w END) AS dist
        FROM {edges} e JOIN d{k} p ON p.node = e.src
        GROUP BY e.dst)"""


def _sssp_oracle() -> str:
    ctes = [
        f"base_edges AS ({_WEDGES_SQL})",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        # zero-weight self-loops make "keep the old distance" an edge
        # contribution, so each round references d{k} exactly once
        "edges AS (SELECT src, dst, w FROM base_edges UNION ALL "
        "SELECT node, node, CAST(0 AS BIGINT) FROM nodes)",
        f"d0 AS (SELECT node, CAST(CASE WHEN node = 0 THEN 0 ELSE {_SSSP_INF} END AS BIGINT) AS dist FROM nodes)",
    ]
    for k in range(_SSSP_ROUNDS):
        ctes.append(_sssp_round_sql(k, "edges"))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node,
           CAST(CASE WHEN dist >= {_SSSP_INF} THEN NULL ELSE dist END AS BIGINT)
               AS dist
    FROM d{_SSSP_ROUNDS}"""
    )


@register("q_graph_shortest_path", oracle=_sssp_oracle(), tags=("graph", "composite"))
def q_graph_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source SHORTEST PATH (Bellman-Ford, 8 relaxation rounds)
    over the weighted nation trade graph — edge weight = minimum
    shipped quantity between the nation pair, source = nation 0. Both
    engines run the IDENTICAL fixed number of relaxations as one
    unrolled chained-CTE plan (q_graph_pagerank's iteration
    discipline: analyzed once, engine-owned dataflow — 8 rounds cover
    any diameter this 25-node graph can have, and equal unrolling
    keeps parity exact even pre-convergence on an adversarial graph).
    All arithmetic is BIGINT with an INF sentinel instead of NULLs
    (LEAST/aggregate NULL semantics differ across engines; the
    sentinel keeps every operand defined), unreachable nodes surface
    as NULL only in the final projection. The relaxation edge set
    carries a zero-weight SELF-LOOP per node so each round references
    the previous distance frame exactly ONCE — see _sssp_round_sql for
    why single-reference is what keeps Spark's CTE-inlined unrolled
    plan linear rather than exponential in the round count. The
    weighted edge list (plus self-loops) is pinned once.
    At 100 TB the relaxation join is edge-partitioned by src — the
    same shuffle key every round, like the pagerank contribution join
    — and the driver-loop + periodic-checkpoint spelling takes over
    when the round count is data-dependent (negative-cycle detection
    adds the standard n-th round check)."""
    nodes = t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("node"))
    edges = pin(
        _trade_base(spark, sf_dir)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.expr("MIN(CAST(ROUND(l_quantity, 0) AS BIGINT))").alias("w"))
        .unionByName(
            nodes.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0).cast("bigint").alias("w"),
            )
        )
        .coalesce(1),
        "q_graph_shortest_path.edges",
    )
    ctes = [
        f"d0 AS (SELECT node, CAST(CASE WHEN node = 0 THEN 0 ELSE {_SSSP_INF} END AS BIGINT) AS dist FROM {{nodes}})"
    ]
    for k in range(_SSSP_ROUNDS):
        ctes.append(_sssp_round_sql(k, "{edges}"))
    sql = (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node,
           CAST(CASE WHEN dist >= {_SSSP_INF} THEN NULL ELSE dist END AS BIGINT)
               AS dist
    FROM d{_SSSP_ROUNDS}"""
    )
    return spark.sql(sql, edges=edges, nodes=nodes)


# ---------------------------------------------------------------------------
# Synchronous label propagation (community detection)
# ---------------------------------------------------------------------------

_LPA_ITERS = 3
_LPA_TOP = 50

_LPA_PAIRS_SQL = """
    SELECT src, dst FROM (
        SELECT src, dst,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, src, dst) AS rn
        FROM (
            SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
                   COUNT(*) AS cnt
            FROM lineitem l
            JOIN orders o ON o.o_orderkey = l.l_orderkey
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN supplier s ON s.s_suppkey = l.l_suppkey
            WHERE c.c_nationkey <> s.s_nationkey
            GROUP BY 1, 2))
    WHERE rn <= {top}
"""


def _lpa_ctes(edges_ref: str, nodes_ref: str) -> list[str]:
    """Shared iteration text: l0 = own id; each round every node takes
    the MOST FREQUENT label among its neighbors (ties to the smallest
    label — the deterministic variant of Raghavan et al.'s LPA),
    isolated nodes keeping their own. Identical string in both engines
    modulo table references."""
    ctes = [
        f"l0 AS (SELECT node, node AS label FROM {nodes_ref})",
    ]
    for k in range(_LPA_ITERS):
        ctes.append(
            f"""nbr{k} AS (
        SELECT e.dst AS node, l.label
        FROM {edges_ref} e JOIN l{k} l ON l.node = e.src)"""
        )
        ctes.append(
            f"""pick{k} AS (
        SELECT node, label FROM (
            SELECT node, label,
                   ROW_NUMBER() OVER (
                       PARTITION BY node
                       ORDER BY COUNT(*) DESC, label) AS rn
            FROM nbr{k} GROUP BY node, label)
        WHERE rn = 1)"""
        )
        ctes.append(
            f"""l{k + 1} AS (
        SELECT l.node, COALESCE(p.label, l.label) AS label
        FROM l{k} l LEFT JOIN pick{k} p ON p.node = l.node)"""
        )
    return ctes


def _lpa_oracle() -> str:
    ctes = [
        f"top_pairs AS ({_LPA_PAIRS_SQL.format(top=_LPA_TOP)})",
        "edges AS (SELECT src, dst FROM top_pairs "
        "UNION SELECT dst, src FROM top_pairs)",
        "nodes AS (SELECT n_nationkey AS node FROM nation)",
        *_lpa_ctes("edges", "nodes"),
    ]
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS size,
           array_to_string(list_sort(list(node)), ',') AS members
    FROM l{_LPA_ITERS} GROUP BY label"""
    )


@register("q_graph_label_prop", oracle=_lpa_oracle(), tags=("graph", "iterative"))
def q_graph_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation over the
    STRONG-TIE trade graph (the 50 highest-volume nation→nation lanes,
    undirected): 3 rounds of "adopt your neighbors' most common label,
    ties to the smallest" — the deterministic spelling of LPA, whose
    usual run-to-run nondeterminism (random update order) is exactly
    what makes vanilla implementations uncheckable. Thinning to top-K
    lanes first is what gives LPA real structure to find: on the dense
    full graph every node sees every label once and the tie-break
    collapses to component-min (i.e. CC, already covered by
    ml/dedup.py's cluster ops).

    Per round: one hash join edges⋈labels (labels is |V| rows — at
    scale THIS side broadcasts), one groupBy(node, label) count with
    map-side partials, one per-node argmax window partitioned by node
    (never global), one left join back. Labels-frame lineage is cut
    per round at scale by a pin, as in q_graph_pagerank;
    here the 3-round plan is unrolled whole so Catalyst sees one
    dataflow. Members emitted sorted + comma-joined (driver-sortable
    array convention)."""
    nodes = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    pairs = (
        _trade_base(spark, sf_dir)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window as _W

    # |pairs| ≤ |V|² (625): the unpartitioned top-K window runs on the
    # aggregated lane table, never the fact scan
    top = (
        pairs.withColumn(
            "rn",
            F.row_number().over(_W.orderBy(F.desc("cnt"), "src", "dst")),
        )
        .filter(F.col("rn") <= _LPA_TOP)
        .select("src", "dst")
    )
    # pinned so the 4-table lane build runs once, not once per
    # unrolled round
    edges = pin(
        top.unionByName(
            top.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .coalesce(1),
        "q_graph_label_prop.edges",
    )
    sql = (
        "WITH "
        + ",\n".join(_lpa_ctes("{edges}", "{nodes}"))
        + f"""
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS size,
           array_join(sort_array(collect_list(node)), ',') AS members
    FROM l{_LPA_ITERS} GROUP BY label"""
    )
    return spark.sql(sql, edges=edges, nodes=nodes)


# Connected components run on the SAME-REGION restriction of the trade
# graph (edges only between nations of one region), which makes the
# component structure non-trivial (disconnected by construction unless
# a region lacks internal trade) while the oracle's transitive closure
# stays a 25-node recursion. Rounds: a region holds <= 5 nations, so
# diameter <= 4; 8 unrolled min-label rounds are provably past
# convergence — and the oracle is an INDEPENDENT transitive closure,
# so an insufficient round count could not silently pass.
_CC_ROUNDS = 8

_CC_EDGES_SQL = """
    SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    WHERE nc.n_regionkey = ns.n_regionkey
"""


@register(
    "q_graph_connected_components",
    oracle=f"""
    WITH RECURSIVE base AS ({_CC_EDGES_SQL}),
    edges AS (
        SELECT src, dst FROM base
        UNION
        SELECT dst, src FROM base
        UNION
        SELECT n_nationkey, n_nationkey FROM nation
    ),
    reach(node, lbl) AS (
        SELECT n_nationkey, n_nationkey FROM nation
        UNION
        SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    comp AS (
        SELECT node, CAST(MIN(lbl) AS BIGINT) AS comp FROM reach
        GROUP BY node
    )
    SELECT CAST(node AS BIGINT) AS node, comp,
           CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT)
             AS comp_size
    FROM comp ORDER BY node
    """,
    tags=("M5", "C1", "D1"),
)
def q_graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONNECTED COMPONENTS by iterative min-label propagation (the
    GraphX/GraphFrames CC algorithm, Kiveris et al.'s baseline) over
    the same-region trade graph — each nation's component id converges
    to the smallest nation id it can reach. The Spark side runs
    {rounds} UNROLLED relaxation rounds as one chained plan (the
    q_graph_shortest_path iteration discipline: self-loops make each
    round reference the previous frame exactly once, the engine owns
    the dataflow); the ORACLE is a genuinely different algorithm — a
    recursive-CTE TRANSITIVE CLOSURE with min-fold — so the two can
    only agree if min-label propagation actually converged.

    Scale: the edge derivation is the shared 4-table broadcast-dim
    join (one pass over lineitem); the label frame is bounded by the
    NATION DOMAIN (25 rows), pinned once. At real scale
    (labels ≫ memory) the same relaxation runs as the driver-loop +
    periodic-checkpoint pattern with large-star/small-star halving —
    the round structure is identical, only the loop control moves.""".format(rounds=_CC_ROUNDS)
    base = (
        _trade_base(spark, sf_dir)
        .join(
            t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("c_nk"),
                F.col("n_regionkey").alias("c_rk"),
            ),
            F.col("c_nk") == F.col("c_nationkey"),
        )
        .join(
            t(spark, sf_dir, "nation").select(
                F.col("n_nationkey").alias("s_nk"),
                F.col("n_regionkey").alias("s_rk"),
            ),
            F.col("s_nk") == F.col("s_nationkey"),
        )
        .filter(F.col("c_rk") == F.col("s_rk"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct()
    )
    nodes = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("node")
    )
    edges = pin(
        base.union(base.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .union(nodes.select(F.col("node").alias("src"), F.col("node").alias("dst")))
        .distinct()
        .coalesce(1),
        "q_graph_connected_components.edges",
    )
    labels = nodes.select("node", F.col("node").alias("lbl"))
    for _ in range(_CC_ROUNDS):
        # the label frame is nation-domain-bounded (25 rows): broadcast
        # it so every relaxation round is a map-side hash join instead
        # of eight sort-merge exchanges (plan-audit finding, round 10)
        labels = (
            edges.join(F.broadcast(labels), edges["src"] == labels["node"])
            .groupBy(edges["dst"].alias("node"))
            .agg(F.min("lbl").alias("lbl"))
        )
    w = Window.partitionBy("lbl")
    return labels.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("lbl").cast("bigint").alias("comp"),
        F.count("*").over(w).cast("bigint").alias("comp_size"),
    )


# The undirected simple graph und (a < b) of the edge table, and each
# node's degree in it (deg).
_UND_SQL = f"""base AS ({_EDGES_SQL}),
    und AS (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM base WHERE src <> dst
    )"""
_DEG_SQL = """deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) d GROUP BY node
    )"""


@register(
    "q_graph_clustering_coeff",
    oracle=f"""
    WITH {_UND_SQL},
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
        FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) t GROUP BY node
    ),
    {_DEG_SQL}
    SELECT d.node, d.degree,
           CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN d.degree >= 2
                THEN (2 * COALESCE(p.n_tri, 0) * 1000000)
                     // (d.degree * (d.degree - 1))
                ELSE 0 END AS BIGINT) AS clustering_e6
    FROM deg d LEFT JOIN per_node p ON p.node = d.node
    ORDER BY d.node
    """,
    tags=("M5", "graph"),
)
def q_graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-NODE triangle counts + local clustering coefficients with
    DEGREE-ORIENTED enumeration — the refinement q_graph_triangles'
    docstring promises ("orient edges by degree so high-degree hubs
    never fan out") delivered, plus the per-node outputs (graph ML
    features, community density) the global count cannot give. The Spark plan uses the DEGREE ORIENTATION
    trick (Cohen's MR triangle algorithm [PK]): each undirected edge
    is directed from its lower-(degree, id) endpoint to the higher,
    which makes every triangle countable EXACTLY ONCE as a directed
    wedge u->v, u->w closed by v->w AND bounds each node's out-
    adjacency by O(sqrt(E)) on any graph (the arboricity bound) — the
    difference between a star node exploding the wedge join
    quadratically and a provably balanced join at 100 TB. The ORACLE
    deliberately runs the DIFFERENT naive algorithm (a<b<c id-ordered
    enumeration, no degree logic): agreement of two algorithms pins
    the count itself, the q_graph_connected_components twin
    discipline.

    Exactness: triangle counts are exact BIGINTs; the local
    clustering coefficient 2T/(d(d-1)) is reported as the e6 floor
    fixing with a degree>=2 guard, identical both engines.

    Plan: the edge census is domain-bounded (<=|V|^2 nation pairs);
    degrees are one tiny aggregate; the wedge join + closure join are
    hash equi-joins on oriented endpoints; per-node counts explode 3
    rows per triangle, never the fact table."""
    und = _undirected_edges(spark, sf_dir)  # degree census + orientation
    deg = _degrees(und)
    # degree orientation: direct each edge from lower (degree, id) to
    # higher (degree, id) — wedge fan-out bounded by O(sqrt(E))
    da = deg.select(F.col("node").alias("a"), F.col("degree").alias("dega"))
    db = deg.select(F.col("node").alias("b"), F.col("degree").alias("degb"))
    # three consumers (both wedge legs + the closure side)
    oriented = pin(
        und.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .select(
            F.when(
                (F.col("dega") < F.col("degb"))
                | (
                    (F.col("dega") == F.col("degb"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(
                F.struct(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            .alias("e")
        )
        .select("e.u", "e.v"),
        "q_graph_clustering_coeff.oriented",
    )
    w1 = oriented.select(F.col("u").alias("x"), F.col("v").alias("y"))
    w2 = oriented.select(F.col("u").alias("x"), F.col("v").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") < F.col("z"))
    # the closing edge exists in `oriented` in exactly ONE (degree-
    # chosen) direction the wedge cannot predict — canonicalize both
    # sides to (min id, max id) so the closure is a pure hash
    # equi-join (an OR-of-orientations join condition would plan as a
    # BroadcastNestedLoopJoin)
    closer = oriented.select(
        F.least("u", "v").alias("y"), F.greatest("u", "v").alias("z")
    )
    tri = wedges.join(closer, ["y", "z"]).select("x", "y", "z")
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("n_tri"))
    )
    return (
        deg.join(per_node, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
            F.expr(
                "CAST(CASE WHEN degree >= 2"
                " THEN (2 * COALESCE(n_tri, 0) * 1000000)"
                "      div (degree * (degree - 1))"
                " ELSE 0 END AS BIGINT)"
            ).alias("clustering_e6"),
        )
    )


@register(
    "q_graph_assortativity",
    oracle=f"""
    WITH {_UND_SQL},
    {_DEG_SQL},
    dir AS (
        SELECT u.a AS s, u.b AS t FROM und u
        UNION ALL
        SELECT u.b, u.a FROM und u
    ),
    ends AS (
        SELECT CAST(ds.degree AS HUGEINT) AS j,
               CAST(dt.degree AS HUGEINT) AS k
        FROM dir
        JOIN deg ds ON ds.node = dir.s
        JOIN deg dt ON dt.node = dir.t
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m2,
               CAST(SUM(j * k) AS HUGEINT) AS sjk,
               CAST(SUM(j) AS HUGEINT) AS sj,
               CAST(SUM(j * j) AS HUGEINT) AS sj2
        FROM ends
    ),
    fin AS (
        SELECT m2, sjk, sj, sj2,
               m2 * sjk - sj * sj AS num,
               GREATEST(m2 * sj2 - sj * sj, 1) AS den
        FROM agg
    )
    SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
           CAST(num AS BIGINT) AS r_num,
           CAST(den AS BIGINT) AS r_den,
           CAST((CASE WHEN num < 0 THEN -1 ELSE 1 END)
                * ((ABS(num) * 1000000) // den) AS BIGINT) AS r_e6,
           num > 0 AS assortative
    FROM fin
    """,
    tags=("M5", "graph"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEGREE ASSORTATIVITY (Newman 2002): do high-degree nodes link
    to other high-degree nodes (r > 0, social-network shape) or to
    low-degree ones (r < 0, hub-and-spoke/internet shape)? THE
    summary statistic of a graph's wiring beyond the degree sequence
    itself, and the quantity that decides whether degree-oriented
    algorithms (q_graph_clustering_coeff's wedge bound) face a
    friendly or adversarial topology.

    r is the Pearson correlation of the endpoint-degree pairs taken
    over every edge in BOTH directions (the standard undirected
    convention: each edge contributes (j,k) and (k,j), which makes
    the two marginals identical). Multiplying through by (2M)^2:
    num = 2M*sum(jk) - (sum j)^2, den = 2M*sum(j^2) - (sum j)^2 —
    PURE integer Pearson, no mean ever materialized. Reported as the
    sign-split magnitude floor r_e6 = sign(num) * (|num|*1e6 div den)
    — the house negative-quotient rule (Spark `div` truncates toward
    zero, DuckDB `//` floors; they agree only on non-negatives, so
    the floor runs on |num| and the sign re-enters by multiplication,
    identical in both engines). num/den are also output raw so the
    twin can verify r as an exact rational.

    Plan at 100 TB: the edge census is domain-bounded (nation pairs
    here; any graph's edge table generally); the degree frame is
    |V|-sized and BROADCAST onto the directed edge list twice — two
    map-side hash joins, one 1-row aggregate, no shuffle wider than
    the degree census itself."""
    und = _undirected_edges(spark, sf_dir)  # degree census + expansion
    deg = _degrees(und)
    direct = und.select(F.col("a").alias("s"), F.col("b").alias("t")).unionAll(
        und.select(F.col("b").alias("s"), F.col("a").alias("t"))
    )
    ds = deg.select(F.col("node").alias("s"), F.col("degree").alias("j"))
    dt = deg.select(F.col("node").alias("t"), F.col("degree").alias("k"))
    ends = (
        direct.join(F.broadcast(ds), "s")
        .join(F.broadcast(dt), "t")
        .select(F.col("j").cast(D38).alias("j"), F.col("k").cast(D38).alias("k"))
    )
    agg = ends.agg(
        F.count("*").cast(D38).alias("m2"),
        F.sum(F.col("j") * F.col("k")).cast(D38).alias("sjk"),
        F.sum("j").cast(D38).alias("sj"),
        F.sum(F.col("j") * F.col("j")).cast(D38).alias("sj2"),
    )
    fin = agg.select(
        "m2",
        (F.col("m2") * F.col("sjk") - F.col("sj") * F.col("sj"))
        .cast(D38)
        .alias("num"),
        F.expr(
            "GREATEST(m2 * sj2 - sj * sj, CAST(1 AS decimal(38,0)))"
        )
        .cast(D38)
        .alias("den"),
    )
    return fin.select(
        F.expr("CAST(m2 div 2 AS BIGINT)").alias("n_edges"),
        F.col("num").cast("bigint").alias("r_num"),
        F.col("den").cast("bigint").alias("r_den"),
        (
            F.when(F.col("num") < 0, -1).otherwise(1)
            * F.expr("ABS(num) * 1000000 div den")
        )
        .cast("bigint")
        .alias("r_e6"),
        (F.col("num") > 0).alias("assortative"),
    )


_KCORE_K = 7
_KCORE_TOPM = 6
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled peeling rounds as chained CTEs (the SSSP/CC
    discipline): alive_r = nodes whose degree AMONG alive_{r-1}
    survivors is >= k. Generated once at import so query and oracle
    share the round count."""
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs per
    # reference, and each round references the previous alive set
    # twice — un-materialized, the 4-round unroll re-expands the
    # 4-table edge join exponentially and never finishes (measured:
    # blew the contract timeout; the Spark twin of this same hazard
    # is the pin per round)
    parts = [
        f"""WITH pairs AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY 1, 2
    ),
    topm AS MATERIALIZED (
        SELECT src, dst FROM (
            SELECT src, dst,
                   ROW_NUMBER() OVER (PARTITION BY src
                       ORDER BY cnt DESC, dst) AS rn
            FROM pairs) t WHERE rn <= {_KCORE_TOPM}
    ),""",
        """
    und AS MATERIALIZED (
        SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        FROM topm
    ),
    a0 AS MATERIALIZED (
        SELECT DISTINCT node FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und
        ) n
    )""",
    ]
    prev = "a0"
    for r in range(1, _KCORE_ROUNDS + 1):
        parts.append(
            f""",
    e{r} AS MATERIALIZED (
        SELECT und.a, und.b FROM und
        JOIN {prev} x ON x.node = und.a
        JOIN {prev} y ON y.node = und.b
    ),
    d{r} AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM (
            SELECT a AS node FROM e{r} UNION ALL SELECT b FROM e{r}
        ) n GROUP BY node
    ),
    a{r} AS MATERIALIZED
        (SELECT node FROM d{r} WHERE degree >= {_KCORE_K})"""
        )
        prev = f"a{r}"
    last = _KCORE_ROUNDS
    joins = "\n".join(
        f"    LEFT JOIN a{r} s{r} ON s{r}.node = a0.node"
        for r in range(1, last + 1)
    )
    removed = " ".join(
        f"WHEN s{r}.node IS NULL THEN {r}" for r in range(1, last + 1)
    )
    parts.append(
        f""",
    conv AS (
        SELECT (SELECT COUNT(*) FROM a{last})
             = (SELECT COUNT(*) FROM a{last - 1}) AS converged
    )
    SELECT a0.node,
           CAST(CASE {removed} ELSE 0 END AS BIGINT) AS removed_round,
           s{last}.node IS NOT NULL AS in_core,
           CAST(COALESCE(fd.degree, 0) AS BIGINT) AS core_degree,
           conv.converged
    FROM a0
{joins}
    LEFT JOIN (
        SELECT node, degree FROM d{last}
        WHERE node IN (SELECT node FROM a{last})
    ) fd ON fd.node = a0.node
    CROSS JOIN conv
    ORDER BY a0.node"""
    )
    return "".join(parts)


@register("q_graph_kcore", oracle=_kcore_oracle(), tags=("M5", "graph"))
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CORE DECOMPOSITION (k=3) by ITERATIVE PEELING — the maximal
    subgraph in which every node keeps >= k neighbors, THE standard
    graph-density screen (community cores, spam/bot rings, the
    "where is the real structure" filter before expensive per-node
    analytics like q_graph_clustering_coeff). The graph is the trade
    graph SPARSIFIED deterministically to each nation's top-6
    partners by trade count (ties by id) — the raw nation graph
    saturates to a clique as sf grows, which would leave the peeling
    branch dead; top-m keeps a degree spread (6..24) at every sf so
    k=7 genuinely peels (probed: core 10 of 25 at sf0.001, 8 of 25 at
    sf0.01, converging in <= 2 rounds). Peeling is the textbook
    algorithm: repeatedly delete nodes of degree < k; what survives
    is exactly the k-core regardless of deletion order — order
    independence is what makes a data-parallel unroll correct.

    Determinism contract: BOTH engines run exactly ROUNDS=4 peeling
    rounds (Spark as a chained 25-node broadcast-join plan, the
    oracle as unrolled CTEs — the SSSP/CC discipline), so outputs
    match EVEN IF 4 rounds were not enough; the `converged` column
    (round 4 removed nothing = fixed point certificate) reports
    whether the result IS the k-core, and the pytest twin asserts
    convergence on this fixture plus replays peeling to a true fixed
    point independently. Per node: the round it was peeled
    (removed_round, 0 = survivor), core membership, and its degree at
    the FINAL census (>= k for every survivor by construction of the
    alive filter — a self-certifying output; equal to the true
    in-core degree exactly when converged=true, which the twin
    asserts).

    Plan at 100 TB: the alive set is |V|-bounded and BROADCAST onto
    the edge list each round (two map-side hash semi-joins + one
    |V|-row degree census per round — no shuffle ever exceeds the
    node census); the 4-round unroll hands Catalyst ONE linear plan,
    with the alive set pinned per round."""
    base = _trade_base(spark, sf_dir)
    pairs = (
        base.filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .groupBy(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    wtop = Window.partitionBy("src").orderBy(
        F.col("cnt").desc(), F.col("dst")
    )
    topm = (
        pairs.select(
            "src", "dst", F.row_number().over(wtop).alias("rn")
        )
        .filter(F.col("rn") <= _KCORE_TOPM)
        .select("src", "dst")
    )
    # consumed once per peeling round — pay the 4-table edge
    # derivation once
    und = pin(
        topm.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct(),
        "q_graph_kcore.und",
    )
    a0 = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .distinct()
    )
    alive = [a0]
    deg = None
    for r in range(1, _KCORE_ROUNDS + 1):
        prev = alive[-1]
        ea = und.join(
            F.broadcast(prev.select(F.col("node").alias("a"))), "a"
        ).join(F.broadcast(prev.select(F.col("node").alias("b"))), "b")
        deg = _degrees(ea)
        # each alive set is consumed by the next round's two
        # semi-joins AND the final removed_round/conv/core_degree
        # consumers — without an eager pin the nested lazy plan
        # re-executes every prior round per consumer (measured: the
        # 4-round unroll blew past the contract timeout; 25-row pins
        # collapse it to one job per round)
        alive.append(
            pin(
                deg.filter(F.col("degree") >= _KCORE_K).select("node"),
                f"q_graph_kcore.alive{r}",
            )
        )
    last, prior = alive[-1], alive[-2]
    conv = last.agg(F.count("*").alias("c_last")).crossJoin(
        prior.agg(F.count("*").alias("c_prior"))
    ).select((F.col("c_last") == F.col("c_prior")).alias("converged"))
    out = a0
    for r in range(1, _KCORE_ROUNDS + 1):
        out = out.join(
            F.broadcast(
                alive[r].select(F.col("node"), F.lit(1).alias(f"s{r}"))
            ),
            "node",
            "left",
        )
    removed = F.lit(0)
    for r in range(_KCORE_ROUNDS, 0, -1):
        removed = F.when(F.col(f"s{r}").isNull(), r).otherwise(removed)
    core_deg = deg.join(F.broadcast(last), "node").select(
        "node", F.col("degree").alias("fdeg")
    )
    return (
        out.join(F.broadcast(core_deg), "node", "left")
        .crossJoin(F.broadcast(conv))
        .select(
            F.col("node").cast("bigint").alias("node"),
            removed.cast("bigint").alias("removed_round"),
            F.col(f"s{_KCORE_ROUNDS}").isNotNull().alias("in_core"),
            F.coalesce(F.col("fdeg"), F.lit(0))
            .cast("bigint")
            .alias("core_degree"),
            F.col("converged"),
        )
    )


@register(
    "q_graph_reciprocity",
    oracle=f"""
    WITH base AS ({_EDGES_SQL}),
    dir AS (SELECT src, dst FROM base WHERE src <> dst),
    recip AS (
        SELECT d.src, d.dst,
               CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS has_rev
        FROM dir d
        LEFT JOIN dir r ON r.src = d.dst AND r.dst = d.src
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m_dir,
               CAST(SUM(has_rev) AS BIGINT) AS m_recip
        FROM recip
    )
    SELECT m_dir, m_recip,
           CAST((m_recip * 1000000) // m_dir AS BIGINT) AS reciprocity_e6,
           CAST(m_recip // 2 AS BIGINT) AS n_mutual_pairs
    FROM agg
    """,
    tags=("M5", "graph"),
)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDGE RECIPROCITY — the DIRECTED-graph summary beside
    q_graph_assortativity's undirected one: what fraction of
    customer-nation -> supplier-nation trade edges is answered by the
    reverse edge? (1.0 = fully mutual trade; near 0 = pure
    importer/exporter roles.) The trade graph is naturally DIRECTED
    — every other graph query canonicalizes it undirected; this is
    the one that must NOT, which is exactly what it verifies: the
    reverse-probe is a self-join on the SWAPPED key pair, and
    m_recip is even by construction (mutuality is symmetric), pinned
    by the n_mutual_pairs = m_recip/2 output.

    Exactness: pure integer counts; reciprocity_e6 is the standard
    non-negative magnitude floor (both operands >= 0 — no
    truncate-vs-floor hazard at all).

    Plan at 100 TB: the directed edge census is domain-bounded
    (nation pairs); the reverse probe is ONE hash equi-join of the
    census against its own projection — never the fact table; one
    1-row aggregate."""
    base = _trade_base(spark, sf_dir)
    # two consumers (probe side + reverse side): pay the 4-table
    # edge derivation once
    direct = pin(
        base.filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("src"),
            F.col("s_nationkey").alias("dst"),
        )
        .distinct(),
        "q_graph_reciprocity.direct",
    )
    rev = direct.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), F.lit(1).alias("has_rev")
    )
    recip = direct.join(rev, ["src", "dst"], "left")
    agg = recip.agg(
        F.count("*").cast("bigint").alias("m_dir"),
        F.sum(F.coalesce(F.col("has_rev"), F.lit(0)))
        .cast("bigint")
        .alias("m_recip"),
    )
    return agg.select(
        "m_dir",
        "m_recip",
        F.expr("(m_recip * 1000000) div m_dir")
        .cast("bigint")
        .alias("reciprocity_e6"),
        F.expr("m_recip div 2").cast("bigint").alias("n_mutual_pairs"),
    )
