"""Scale-ladder probe (r7 verdict item 2): ONE uniform measurement for
the 10 slowest headline queries — each runs at sf0.1 AND at a 4×
synthetic blow-up of its input tables, and the per-query scaling
exponent log(t_4x / t_1x) / log(4) is recorded for BASELINE.md.

The blow-up is WEAK scaling of the workload structure, not naive row
duplication (K identical copies would multiply every dedup cluster and
spatial cell K-fold, conflating plan scaling with workload-density
growth):

  * documents — replica r > 0 suffixes every token with `_r`, so the
    replicas are disjoint vocabulary domains: per-replica duplicate /
    containment / substring statistics EQUAL the original's, and cross-
    replica candidates are structurally zero. Dedup cost should grow
    ∝ corpus size (exponent ≈ 1).
  * embeddings — vec_id shifted, each coordinate jittered by a
    deterministic per-(id, dim, r) hash ≤ 0.01 so replicas are distinct
    points with the same geometry. KMeans is two map-side Lloyd passes:
    exponent ≈ 1.
  * lineitem / orders — l_orderkey / o_orderkey shifted in lockstep so
    orders⋈lineitem stays consistent; dims (supplier, nation, …) are
    NOT replicated — per-supplier / per-order group sizes grow, the
    realistic fact-vs-dim shape. Exponent ≈ 1.
  * events — replicas are FRESH points (user_id / value re-hashed):
    the spatial-radius grid is a fixed 1000×1000 space derived inside
    the query, so 4× points = 4× density and the TRUE pair count grows
    ~K². For q_join_spatial_radius the honest claim is candidate-
    boundedness, so the probe also measures the output pair count and
    reports the PAIR-NORMALIZED exponent log(t_ratio)/log(pair_ratio)
    (≈ 1 means time tracks true pairs — the optimum for any algorithm
    that must emit them).
  * graph queries read the tiny nation-derived edge list — constant
    under the blow-up; their exponent ≈ 0 documents iteration-bound
    cost, which is the point.

    python scripts/scale_ladder.py [K] [query ...]   # default K=4, all LADDER

Naming queries restricts the run (r8 verdict item 5: the 64× rung is
only needed for the three steepest 16× exponents — containment,
substring, winsorize — to prove the 4×→16× growth is constant-overhead
washout, not the super-linear signature).

Prints a markdown table (paste into BASELINE.md) plus one JSON line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# Drop scripts/ from sys.path: scripts/profile.py would shadow the stdlib
# `profile` module that pyspark loads through cProfile.
sys.path[:] = [os.path.dirname(HERE)] + [p for p in sys.path if p != HERE]

from pyspark.sql import functions as F

from embarrassingly_parallel_image_classification_spark import registry
from embarrassingly_parallel_image_classification_spark.session import get_spark
from embarrassingly_parallel_image_classification_spark.sources.tables import (
    load_table,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LADDER = [
    "q_dedup_containment",
    "q_graph_pagerank",
    "q_join_spatial_radius",
    "q_dedup_substring",
    "q_dedup_incremental",
    "q_graph_label_prop",
    "q_cluster_kmeans",
    "q_tpch_q21",
    "q_market_basket",
    "q_clean_winsorize",
    # round-8 slowest-5 entrants: selection quantiles (fact 4x, domain
    # fixed — rounds constant, per-round scan grows), CDC replication
    # (churn and table grow together), robust scaler (selection + one
    # broadcast-scale pass)
    "q_agg_group_median_select",
    "q_lake_replicate",
    "q_feat_robust_scale",
]
DIMS = ("region", "nation", "customer", "supplier", "part")
PASSES = 3

# Which BLOWN-UP tables each ladder query actually reads (dims are
# always copied as-is). A restricted run (named queries on the command
# line) generates only the union of its needs — at 64x, generating the
# unused events/lineitem replicas would dominate the probe's wall
# clock and contend with nothing useful.
TABLE_DEPS = {
    "q_dedup_containment": {"documents"},
    "q_dedup_substring": {"documents"},
    "q_dedup_incremental": {"documents"},
    "q_graph_label_prop": {"documents"},
    "q_graph_pagerank": set(),
    "q_cluster_kmeans": {"embeddings"},
    "q_join_spatial_radius": {"events"},
    "q_tpch_q21": {"lineitem", "orders"},
    "q_market_basket": {"lineitem"},
    "q_clean_winsorize": {"lineitem"},
    "q_agg_group_median_select": {"lineitem"},
    "q_lake_replicate": {"orders"},
    "q_feat_robust_scale": {"lineitem", "orders"},
}
ALL_BIG = {"documents", "embeddings", "events", "lineitem", "orders"}


def build_blowup(spark, k: int, tables: set | None = None) -> str:
    tag = os.path.basename(os.path.normpath(SF_DIR))
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        f"scale_ladder_{tag}_x{k}_{os.getpid()}",
    )
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    for name in DIMS:
        shutil.copy(f"{SF_DIR}/{name}.parquet", f"{out}/{name}.parquet")
    # Restricted generation: tables outside the set are NOT written, so
    # a wrong TABLE_DEPS entry fails loudly (missing path) instead of
    # silently measuring 1x data.
    tables = ALL_BIG if tables is None else set(tables)

    def reps(df, build_replica):
        parts = [df]
        for r in range(1, k):
            parts.append(build_replica(df, r))
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    docs = load_table(spark, SF_DIR, "documents") if "documents" in tables else None
    if docs is not None:
        max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
        _gen_documents(reps, docs, max_doc, out)
    if "embeddings" in tables:
        _gen_embeddings(spark, reps, out)
    if "events" in tables:
        _gen_events(spark, reps, out)
    if "lineitem" in tables or "orders" in tables:
        _gen_lineitem_orders(spark, reps, out, tables)
    return out


def _gen_documents(reps, docs, max_doc, out):
    reps(
        docs,
        lambda df, r: df.select(
            (F.col("doc_id") + r * max_doc).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split("text", " "), lambda t_: F.concat(t_, F.lit(f"_{r}"))
                ),
                " ",
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        ),
    ).repartition(8).write.mode("overwrite").parquet(f"{out}/documents.parquet")


def _gen_embeddings(spark, reps, out):
    emb = load_table(spark, SF_DIR, "embeddings")
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    reps(
        emb,
        lambda df, r: df.select(
            (F.col("vec_id") + r * max_vec).alias("vec_id"),
            # CAST the SUM back to float: the jitter division promotes
            # to double and unionByName would silently widen the whole
            # 4x table to array<double> (8x bytes, different schema
            # than the 1x fixture — r8 review), conflating row growth
            # with a storage-type change in the measured exponent.
            F.expr(
                f"transform(embedding, (x, i) -> CAST(x + CAST("
                f"(abs(xxhash64(vec_id, i, {r})) % 1000) AS FLOAT)"
                f" / 100000.0 AS FLOAT))"
            ).alias("embedding"),
            "label",
        ),
    ).repartition(8).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def _gen_events(spark, reps, out):
    ev = load_table(spark, SF_DIR, "events")
    max_ev = ev.agg(F.max("event_id")).first()[0] + 1
    reps(
        ev,
        lambda df, r: df.select(
            (F.col("event_id") + r * max_ev).alias("event_id"),
            "ts",
            F.expr(f"abs(xxhash64(user_id, {r})) % 100000").alias("user_id"),
            "event_type",
            (
                F.col("value")
                + F.expr(f"(abs(xxhash64(event_id, {r})) % 1000) / 100.0")
            ).alias("value"),
            "props",
        ),
    ).repartition(16).write.mode("overwrite").parquet(f"{out}/events.parquet")


def _gen_lineitem_orders(spark, reps, out, tables):
    li = load_table(spark, SF_DIR, "lineitem")
    orders = load_table(spark, SF_DIR, "orders")
    max_ord = orders.agg(F.max("o_orderkey")).first()[0] + 1
    if "lineitem" in tables:
        reps(
            li,
            lambda df, r: df.withColumn(
                "l_orderkey", F.col("l_orderkey") + r * max_ord
            ),
        ).repartition(32).write.mode("overwrite").parquet(
            f"{out}/lineitem.parquet"
        )
    if "orders" in tables:
        reps(
            orders,
            lambda df, r: df.withColumn(
                "o_orderkey", F.col("o_orderkey") + r * max_ord
            ),
        ).repartition(16).write.mode("overwrite").parquet(
            f"{out}/orders.parquet"
        )


def time_query(fn, spark, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(PASSES):
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.time() - t0)
    return best


def spatial_pairs(spark, sf_dir: str) -> int:
    df = registry.queries()["q_join_spatial_radius"](spark, sf_dir)
    return df.agg(F.sum("n_pairs")).first()[0] or 0


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    ladder = sys.argv[2:] or LADDER
    unknown = [n for n in ladder if n not in LADDER]
    assert not unknown, f"not ladder queries: {unknown}"
    spark = get_spark("scale-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    needed = set().union(*(TABLE_DEPS.get(n, ALL_BIG) for n in ladder))
    blow = build_blowup(spark, k, needed)
    qs = registry.queries()
    rows = []
    try:
        for name in ladder:
            fn = qs[name]
            t1 = time_query(fn, spark, SF_DIR)
            tk = time_query(fn, spark, blow)
            ratio = tk / t1 if t1 > 0 else float("nan")
            exp = math.log(ratio) / math.log(k) if ratio > 0 else float("nan")
            extra = ""
            if name == "q_join_spatial_radius":
                p1 = spatial_pairs(spark, SF_DIR)
                pk = spatial_pairs(spark, blow)
                pr = pk / p1 if p1 else float("nan")
                pexp = (
                    math.log(ratio) / math.log(pr) if pr and pr > 1 else float("nan")
                )
                extra = (
                    f"pairs {p1}→{pk} ({pr:.1f}×); time/pair exponent "
                    f"{pexp:.2f}"
                )
            rows.append(
                {
                    "query": name,
                    "t_1x_sec": round(t1, 3),
                    f"t_{k}x_sec": round(tk, 3),
                    "ratio": round(ratio, 3),
                    "exponent": round(exp, 3),
                    "note": extra,
                }
            )
            print(
                f"{name:26s} {t1:7.2f}s -> {tk:7.2f}s  ratio {ratio:5.2f} "
                f"exp {exp:5.2f}  {extra}",
                flush=True,
            )
    finally:
        shutil.rmtree(blow, ignore_errors=True)
    print()
    print(f"| query | t@sf0.1 | t@{k}× | ratio | exponent | note |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['query']} | {r['t_1x_sec']} | {r[f't_{k}x_sec']} "
            f"| {r['ratio']} | {r['exponent']} | {r['note']} |"
        )
    print(json.dumps({"metric": "scale_ladder", "k": k, "rows": rows}))


if __name__ == "__main__":
    main()
