"""Physical-plan assertions for the scale-technique library
(plans/scale.py): each technique must actually change the plan the way
it claims, not just return correct values."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from embarrassingly_parallel_image_classification_spark import registry
from embarrassingly_parallel_image_classification_spark.plans import scale
from embarrassingly_parallel_image_classification_spark.sources.tables import t
from tests.conftest import SF_T2
from tests.test_plans import explain_str


def test_bucketed_join_has_no_exchange_or_sort(spark):
    """Both sides pre-bucketed+sorted by the join key → SMJ with zero
    Exchange and zero Sort in the final plan."""
    from embarrassingly_parallel_image_classification_spark.plans.scale import (
        bucket_table_names,
    )

    registry.queries()["q_scale_bucketed_join"](spark, SF_T2).collect()  # ensure tables
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    lt, ot = bucket_table_names(SF_T2)
    li = spark.table(lt)
    o = spark.table(ot)
    joined = li.hint("merge").join(o, li.l_orderkey == o.o_orderkey)
    plan = explain_str(joined)
    tree = plan.split("== Physical Plan ==")[1].split("(1) ")[0]
    assert "SortMergeJoin" in plan
    assert "Exchange" not in tree, f"bucketed join still shuffles:\n{tree}"
    assert "Sort" not in tree.replace("SortMergeJoin", "SMJ"), (
        f"bucketed join still sorts:\n{tree}"
    )


def test_bloom_filter_prunes_fact_rows(spark):
    """The Bloom pre-filter must actually reduce the fact side: probe
    the filter alone and check its selectivity against the true match
    set (false-positive rate well under 5%)."""
    li = t(spark, SF_T2, "lineitem")
    urgent = t(spark, SF_T2, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    words = scale.build_bloom(urgent, "o_orderkey")
    kept = li.filter(scale.bloom_might_contain(words, F.col("l_orderkey"))).count()
    true_matches = li.join(
        urgent.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_semi"
    ).count()
    total = li.count()
    assert kept >= true_matches  # no false negatives — Bloom guarantee
    fp = (kept - true_matches) / max(total - true_matches, 1)
    assert fp < 0.05, f"bloom false-positive rate {fp:.3f} too high"
    assert kept < total * 0.5, "bloom filter pruned almost nothing"


def test_bloom_probe_is_jvm_side(spark):
    """The membership test must compile to Catalyst expressions (no
    Python eval nodes) so it runs inside codegen at the scan."""
    li = t(spark, SF_T2, "lineitem")
    urgent = t(spark, SF_T2, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    words = scale.build_bloom(urgent, "o_orderkey")
    pruned = li.filter(scale.bloom_might_contain(words, F.col("l_orderkey")))
    plan = explain_str(pruned)
    assert "EvalPython" not in plan
    assert "Filter" in plan


def test_salted_join_row_count_matches_plain(spark):
    o = t(spark, SF_T2, "orders").withColumnRenamed("o_custkey", "join_key")
    c = t(spark, SF_T2, "customer").withColumnRenamed("c_custkey", "join_key")
    assert scale.salted_join(o, c, "join_key").count() == o.join(c, "join_key").count()


def test_compaction_collapses_file_count(spark):
    """q_scale_compaction must actually shrink the file inventory:
    64 fragment files in, ≤4 compacted parquet files out."""
    import glob
    import os

    from embarrassingly_parallel_image_classification_spark.sources.formats import (
        scratch,
    )

    registry.queries()["q_scale_compaction"](spark, SF_T2).collect()
    frag = glob.glob(os.path.join(scratch("compact_frag", SF_T2), "*.parquet"))
    compact = glob.glob(os.path.join(scratch("compact_out", SF_T2), "*.parquet"))
    assert len(frag) == 64, f"expected 64 fragment files, saw {len(frag)}"
    assert 1 <= len(compact) <= 4, f"compaction left {len(compact)} files"


def test_aqe_splits_skewed_join(spark):
    """AQE's skew-join handling must engage on a pathologically skewed
    key: one hot key holding ~90% of the fact side joined to an even
    dimension. With thresholds tuned to fixture scale, the executed
    plan's SortMergeJoin must be marked isSkew=true — the runtime
    re-plan that, at 100 TB, turns one straggler task into many
    balanced ones (complementing the static salting of
    q_scale_salted_join)."""
    import pyspark.sql.functions as SF

    conf_keys = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # Coalescing merges the small partitions first and can mask the
        # skew split at fixture scale — the skew path is what's under test.
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    saved = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        # repartition(16) first: AQE splits a skewed reduce partition
        # along MAP-task boundaries, so a single-mapper shuffle (the
        # whole sf0.01 parquet is one input split) is indivisible and
        # the rule silently never fires — on a real cluster the
        # thousands of mappers make this a non-issue, but it's the
        # kind of invariant worth pinning in a test.
        li = t(spark, SF_T2, "lineitem").repartition(16)
        # ~90% of rows land on key 0, the rest spread evenly.
        fact = li.select(
            SF.when(SF.rand(seed=7) < 0.9, SF.lit(0))
            .otherwise(SF.col("l_orderkey") % 100)
            .cast("bigint")
            .alias("k"),
            "l_quantity",
        )
        dim = spark.range(100).select(SF.col("id").alias("k"), (SF.col("id") * 2).alias("w"))
        joined = fact.join(dim, "k")
        joined.collect()
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "isSkew=true" in executed or "skew=true" in executed, (
            f"AQE did not mark the skewed join:\n{executed[:2000]}"
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_sink(spark):
    """A join against the year-partitioned parquet sink with a
    selective dim filter must trigger dynamic partition pruning: the
    partitioned scan's plan carries a dynamicpruning subquery on the
    partition column, so at scale only the matching partition dirs are
    read — the runtime analog of static partition pruning."""
    import os

    import pyspark.sql.functions as SF

    from embarrassingly_parallel_image_classification_spark.sources.formats import (
        scratch,
    )

    # q_sink_partitioned writes the year-partitioned orders copy.
    registry.queries()["q_sink_partitioned"](spark, SF_T2).collect()
    path = scratch("orders_by_year", SF_T2)
    assert os.path.isdir(path)
    part = spark.read.parquet(path)
    years = (
        part.select("oyear").distinct().limit(1).withColumnRenamed("oyear", "y")
    )
    joined = part.join(years.filter(SF.col("y") >= 0), part.oyear == SF.col("y"))
    plan = explain_str(joined)
    assert "dynamicpruning" in plan.lower(), (
        f"no dynamic partition pruning in plan:\n{plan[:2000]}"
    )


def test_runtime_bloom_filter_join_injects(spark):
    """Spark's runtime row-level bloom filter (on by default,
    spark.sql.optimizer.runtime.bloomFilter.enabled) must inject a
    bloom_filter_agg on the selective build side of a shuffle join when
    size thresholds allow — at 100 TB the probe-side scan always clears
    the default 10 GB applicationSideScanSizeThreshold, so this fires
    automatically; at fixture scale we lower the threshold to prove the
    machinery. Complements the hand-rolled bloom_semi_join
    (plans/scale.py), which exists for semantics the optimizer can't
    infer."""
    from pyspark.sql import functions as F

    from embarrassingly_parallel_image_classification_spark.sources.tables import t

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old_thresh = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = t(spark, SF_T2, "lineitem")
        o = t(spark, SF_T2, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        plan = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            ._jdf.queryExecution()
            .toString()
        )
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
        assert "might_contain" in plan, "probe side lacks the bloom test"
    finally:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thresh,
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)


def test_lakehouse_vacuum_preserves_retained_snapshots(spark, tmp_path):
    """vacuum(retain=1) must delete every data file reachable ONLY from
    expired snapshots and their manifests, while the retained snapshot
    stays byte-identical readable — and time travel to the expired
    version must now fail (by design)."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df1 = spark.range(100).select(F.col("id").alias("o_orderkey"))
    df2 = spark.range(100, 110).select(F.col("id").alias("o_orderkey"))
    assert lakehouse.snapshot_write(df1, path, "append") == 1
    assert lakehouse.snapshot_write(df2, path, "overwrite") == 2
    # before vacuum: both versions readable
    assert lakehouse.snapshot_read(spark, path, 1).count() == 100
    assert lakehouse.snapshot_read(spark, path, 2).count() == 10
    removed = lakehouse.vacuum(path, retain_versions=1)
    assert removed, "vacuum removed nothing despite an expired snapshot"
    assert lakehouse.snapshot_read(spark, path, 2).count() == 10  # intact
    with pytest.raises(FileNotFoundError):
        lakehouse.snapshot_read(spark, path, 1)  # expired manifest gone


def test_lakehouse_optimistic_concurrency(spark, tmp_path):
    """snapshot_write(expected_version=...) must refuse to publish over
    a table another writer moved (stale base ⇒ ConcurrentWriteError);
    an unconditional append must instead rebase and succeed. The
    version claim is an atomic link(2), so a raced version number can
    never be double-published."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("o_orderkey"))
    assert lakehouse.snapshot_write(df, path, "append", expected_version=0) == 1
    # writer B publishes v2 while writer A still believes the table is at v1
    assert lakehouse.snapshot_write(df, path, "append") == 2
    with pytest.raises(lakehouse.ConcurrentWriteError):
        lakehouse.snapshot_write(df, path, "overwrite", expected_version=1)
    # unconditional append rebases onto v2 and lands as v3
    assert lakehouse.snapshot_write(df, path, "append") == 3
    assert lakehouse.snapshot_read(spark, path).count() == 30


def test_lakehouse_stats_pruning_skips_files(spark, tmp_path):
    """Manifest-level data skipping: a range-partitioned write records
    per-file [min, max] key stats; a between=(lo, hi) read must prune
    to strictly fewer files while returning exactly the rows a full
    scan + filter would."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = (
        spark.range(1000)
        .select(F.col("id").alias("o_orderkey"))
        .repartitionByRange(8, "o_orderkey")
    )
    lakehouse.snapshot_write(df, path, "append", stats_col="o_orderkey")
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_manifest_v1.json")) as f:
        m = _json.load(f)
    assert len(m["files"]) == 8 and len(m["stats"]) == 8
    pruned = lakehouse.snapshot_read(spark, path, between=(100, 150))
    kept = [
        name
        for name in m["files"]
        if m["stats"][name][0] <= 150 and m["stats"][name][1] >= 100
    ]
    assert len(kept) < 8, "range write produced no prunable layout"
    got = sorted(
        r["o_orderkey"]
        for r in pruned.filter(F.col("o_orderkey").between(100, 150)).collect()
    )
    assert got == list(range(100, 151))


def test_lakehouse_mor_compaction_roundtrip(spark, tmp_path):
    """compact_mor must fold the deletion vectors into rewritten data
    files: post-compaction reads need NO delete files, row counts are
    unchanged, and the new manifest carries no delete entries."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(100).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df, path, "append")
    doomed = spark.range(0, 100, 10).select(F.col("id").alias("k"))
    lakehouse.delete_where(spark, path, "k", doomed)
    assert lakehouse.snapshot_read_mor(spark, path).count() == 90
    v = lakehouse.compact_mor(spark, path)
    with open(_os.path.join(path, f"_manifest_v{v}.json")) as f:
        m = _json.load(f)
    assert not m.get("delete_files"), "compaction left delete files"
    # plain read (no MoR) now returns the surviving rows directly
    assert lakehouse.snapshot_read(spark, path).count() == 90
    got = sorted(
        r["k"] for r in lakehouse.snapshot_read(spark, path).collect()
    )
    assert got == [k for k in range(100) if k % 10 != 0]


def test_lakehouse_bloom_index_point_lookup(spark, tmp_path):
    """Per-file Bloom point-lookup: on a hash-partitioned layout (keys
    scattered, min/max stats useless) the Bloom index must prune to
    strictly fewer files for an equality probe while returning exactly
    the full-scan answer, and must never produce a false negative for
    ANY present key."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = (
        spark.range(2000)
        .select(F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v"))
        .repartition(8, "k")  # hash layout: every file spans the key range
    )
    lakehouse.snapshot_write(df, path, "append")
    lakehouse.add_bloom_index(path, "k")
    with open(_os.path.join(path, f"_manifest_v2.json")) as f:
        m = _json.load(f)
    assert len(m["blooms"]) == 8
    # a probe for one key must hit few files (8-KiB bloom over ~250
    # bigints per file → fp rate well under 10%)
    hit_files = [
        n
        for n in m["files"]
        if lakehouse._bloom_might_contain(m["blooms"][n], 1234)
    ]
    assert 1 <= len(hit_files) < 8, f"bloom pruned nothing: {len(hit_files)}"
    got = lakehouse.snapshot_read_point(spark, path, "k", 1234).collect()
    assert len(got) == 1 and got[0]["v"] == 1234 * 7 % 1000
    # no false negatives across a sample of present keys
    for key in range(0, 2000, 97):
        rows = lakehouse.snapshot_read_point(spark, path, "k", key).collect()
        assert len(rows) == 1, f"bloom false negative for key {key}"
    # the distributed (Catalyst md5/conv) build must equal the Python
    # reference hasher BIT FOR BIT — this is what licenses the
    # driver-side probe to prune against Spark-built bitmaps
    name = m["files"][0]
    vals = [
        r["k"]
        for r in spark.read.parquet(_os.path.join(path, name)).collect()
    ]
    ref = [0] * (lakehouse._BLOOM_BITS // 64)
    for value in vals:
        lakehouse._bloom_add(ref, value)
    assert m["blooms"][name] == ref, "spark-built bitmap != python reference"


def test_ivm_distinct_sketch_merge_tracks_full(spark):
    """Mergeable-sketch IVM: union(sketch(half A), sketch(half B)) must
    track one sketch over everything. NOT bit-exact — DataSketches HLL
    union promotes through a different internal mode than direct
    aggregation, so estimates differ by a fraction of a percent
    (measured ~0.5%); both must sit within HLL error of the true
    distinct count, which is what an approximate view contracts."""
    from embarrassingly_parallel_image_classification_spark import registry

    inc = {
        r["priority"]: r["approx_customers"]
        for r in registry.queries()["q_lake_ivm_distinct"](spark, SF_T2).collect()
    }
    orders = t(spark, SF_T2, "orders").select(
        F.col("o_orderpriority").alias("priority"), "o_custkey"
    )
    full = {
        r["priority"]: r["est"]
        for r in orders.groupBy("priority")
        .agg(F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey))").cast("bigint").alias("est"))
        .collect()
    }
    for p in full:
        assert abs(inc[p] - full[p]) / full[p] < 0.02, (p, inc[p], full[p])
    true = {
        r["priority"]: r["n"]
        for r in orders.groupBy("priority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    for p, est in inc.items():
        assert abs(est - true[p]) / true[p] < 0.05, (p, est, true[p])
        assert abs(full[p] - true[p]) / true[p] < 0.05, (p, full[p], true[p])


def test_lakehouse_delete_scoping_survives_reinsert(spark, tmp_path):
    """Found by review of the MoR composition: deletes must be SCOPED
    to the data files visible when published (Iceberg sequence-number
    semantics). Sequence: append {1,2,3} → delete {2} → append {2,4}.
    The re-inserted 2 must SURVIVE (the delete predates its file) while
    the original 2 stays deleted; and the delete must also carry
    forward across the append (before the fix, an append dropped
    delete_files entirely, resurrecting the original 2)."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    mk = lambda keys: spark.createDataFrame([(k,) for k in keys], "k bigint")
    lakehouse.snapshot_write(mk([1, 2, 3]), path, "append")
    lakehouse.delete_where(spark, path, "k", mk([2]))
    assert sorted(
        r["k"] for r in lakehouse.snapshot_read_mor(spark, path).collect()
    ) == [1, 3]
    lakehouse.snapshot_write(mk([2, 4]), path, "append")
    got = sorted(r["k"] for r in lakehouse.snapshot_read_mor(spark, path).collect())
    assert got == [1, 2, 3, 4], (
        f"expected re-inserted 2 to survive and original 2 to stay deleted, got {got}"
    )


def test_lakehouse_merge_respects_prior_deletes(spark, tmp_path):
    """Compositional check: MERGE INTO a table carrying deletion
    vectors must not resurrect the deleted rows — the merge reads
    through the MoR reader and its copy-on-write publish folds the
    deletes in. Sequence: append {1..5}, delete {2}, merge source
    {3 -> updated}: final table is {1, 3', 4, 5} (no 2)."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k, k * 10) for k in range(1, 6)], "k bigint, v bigint")
    lakehouse.snapshot_write(df, path, "append")
    lakehouse.delete_where(
        spark, path, "k", spark.createDataFrame([(2,)], "k bigint")
    )
    src = spark.createDataFrame([(3, 999)], "k bigint, v bigint")
    lakehouse.merge_into(spark, path, src, "k", ["v"])
    got = {
        r["k"]: r["v"] for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert got == {1: 10, 3: 999, 4: 40, 5: 50}, got


def test_lakehouse_empty_pruned_read_keeps_table_schema(spark, tmp_path):
    """snapshot_read of a fully-pruned snapshot must return an EMPTY
    frame with the table's REAL schema (recorded in the manifest at
    write time) — the round-5 ADVICE bug returned a hardcoded
    orders-shaped schema for every table."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "doc_id bigint, lang string, score double"
    )
    lakehouse.snapshot_write(df, path, "append", stats_col="doc_id")
    pruned = lakehouse.snapshot_read(spark, path, between=(100, 200))
    assert pruned.count() == 0
    assert pruned.schema == df.schema, pruned.schema


def test_lakehouse_batch_id_commits_atomically_with_data(spark, tmp_path):
    """The ingest-idempotence id must live in the SAME atomically-linked
    manifest as the data files it gates (one commit — no window where
    data is published but the replay gate is missing), and must
    accumulate across later snapshots, including interleaved non-stream
    appends and overwrite/compaction (round-5 ADVICE medium: the old
    two-step rewrite lost ids on both paths)."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(1,), (2,)], "k bigint")
    v1 = lakehouse.snapshot_write(df, path, "append", batch_id=7)
    with open(_os.path.join(path, f"_manifest_v{v1}.json")) as f:
        m1 = _json.load(f)
    assert m1["batch_ids"] == [7] and m1["files"], m1
    # interleaved plain append (no batch_id) must PRESERVE the history
    lakehouse.snapshot_write(df, path, "append")
    # a second stream batch lands after the interleaved writer
    lakehouse.snapshot_write(df, path, "append", batch_id=8)
    # overwrite (compaction) must also carry the ids forward
    v4 = lakehouse.snapshot_write(df, path, "overwrite")
    with open(_os.path.join(path, f"_manifest_v{v4}.json")) as f:
        m4 = _json.load(f)
    assert m4["batch_ids"] == [7, 8], m4["batch_ids"]
    # and a MoR delete snapshot carries them too
    lakehouse.delete_where(
        spark, path, "k", spark.createDataFrame([(1,)], "k bigint")
    )
    with open(_os.path.join(path, f"_manifest_v{v4 + 1}.json")) as f:
        m5 = _json.load(f)
    assert m5["batch_ids"] == [7, 8], m5["batch_ids"]


def test_lakehouse_multicol_stats_prune_conjunctive(spark, tmp_path):
    """Multi-column data skipping (round 6): stats_col=[a, b] records
    per-file min/max for BOTH columns; predicates={a: r1, b: r2} keeps
    only files intersecting EVERY range, and the pruned read still
    returns exactly what a full scan + filter would."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = (
        spark.range(1000)
        .select(
            F.col("id").alias("k"),
            (999 - F.col("id")).alias("rev"),
        )
        .repartitionByRange(8, "k")
    )
    lakehouse.snapshot_write(df, path, "append", stats_col=["k", "rev"])
    import json as _json
    import os as _os

    with open(_os.path.join(path, "_manifest_v1.json")) as f:
        m = _json.load(f)
    assert len(m["col_stats"]) == 8
    assert all(set(v) == {"k", "rev"} for v in m["col_stats"].values())
    # k in [100, 150] alone keeps ~1-2 files; adding rev in [0, 99]
    # (i.e. k in [900, 999]) is conjunctively UNSATISFIABLE → 0 files
    one = lakehouse.snapshot_read(spark, path, predicates={"k": (100, 150)})
    both = lakehouse.snapshot_read(
        spark, path, predicates={"k": (100, 150), "rev": (0, 99)}
    )
    got = sorted(
        r["k"] for r in one.filter(F.col("k").between(100, 150)).collect()
    )
    assert got == list(range(100, 151))
    assert both.count() == 0
    assert [f.name for f in both.schema.fields] == ["k", "rev"]  # manifest schema


def test_lakehouse_maybe_compact_policy(spark, tmp_path):
    """maybe_compact fires at the measured ≥4-delete-file threshold
    (BASELINE.md MoR probe) and not below, and the compacted table
    equals the MoR view it replaced."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([(k,) for k in range(100)], "k bigint")
    lakehouse.snapshot_write(df, path, "append")
    for i in range(3):
        lakehouse.delete_where(
            spark, path, "k", spark.createDataFrame([(i,)], "k bigint")
        )
        assert lakehouse.maybe_compact(spark, path) is None  # below threshold
    lakehouse.delete_where(
        spark, path, "k", spark.createDataFrame([(3,)], "k bigint")
    )
    v = lakehouse.maybe_compact(spark, path)
    assert v is not None
    import json as _json
    import os as _os

    with open(_os.path.join(path, f"_manifest_v{v}.json")) as f:
        assert _json.load(f)["delete_files"] == []
    got = sorted(r["k"] for r in lakehouse.snapshot_read(spark, path).collect())
    assert got == list(range(4, 100))


def test_catalog_crash_between_phases_keeps_old_state(spark, tmp_path):
    """Multi-table atomicity: a table snapshot published WITHOUT its
    catalog link (the crash window between commit phases) must stay
    invisible to catalog readers — both tables keep their old state
    until the single atomic catalog publish lands."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    a1 = spark.createDataFrame([(1,), (2,)], "k bigint")
    b1 = spark.createDataFrame([(10,)], "k bigint")
    lakehouse.multi_table_commit(spark, root, {"a": a1, "b": b1})
    # simulated crash: table 'a' gets a phase-1 snapshot, no catalog file
    import os as _os

    lakehouse.snapshot_write(
        spark.createDataFrame([(3,)], "k bigint"), _os.path.join(root, "a")
    )
    assert lakehouse.catalog_version(root) == 1
    got_a = sorted(r["k"] for r in lakehouse.catalog_read(spark, root, "a").collect())
    got_b = sorted(r["k"] for r in lakehouse.catalog_read(spark, root, "b").collect())
    assert got_a == [1, 2], "catalog reader saw an uncommitted table version"
    assert got_b == [10]
    # the next commit REBASES on the orphan's successor version cleanly
    lakehouse.multi_table_commit(
        spark, root, {"b": spark.createDataFrame([(20,)], "k bigint")}
    )
    got_a2 = sorted(
        r["k"] for r in lakehouse.catalog_read(spark, root, "a").collect()
    )
    # 'a' was not part of commit 2: catalog still pins its v1 manifest
    assert got_a2 == [1, 2]


def test_catalog_concurrent_commit_single_winner(spark, tmp_path):
    """Two catalog commits racing for the same version: the link(2)
    claim lets exactly one publish; the loser surfaces
    ConcurrentWriteError instead of silently overwriting (same
    optimistic-concurrency contract as the single-table layer)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    df = spark.createDataFrame([(1,)], "k bigint")
    lakehouse.multi_table_commit(spark, root, {"a": df})
    # simulate the race: claim catalog v2 out from under the committer
    with open(lakehouse._catalog_path(root, 1)) as f:
        stale = _json.load(f)
    with open(lakehouse._catalog_path(root, 2), "w") as f:
        _json.dump({"version": 2, "tables": stale["tables"]}, f)
    # a commit that read v1 as its base now collides on v2... but
    # multi_table_commit re-reads the current version, so make the
    # interloper appear AFTER the read by racing at v3 via monkeypatch
    real_cv = lakehouse.catalog_version

    def stale_cv(r):
        return 1  # committer believes the catalog is still at v1

    lakehouse.catalog_version = stale_cv
    try:
        with _pytest.raises(lakehouse.ConcurrentWriteError):
            lakehouse.multi_table_commit(spark, root, {"a": df})
    finally:
        lakehouse.catalog_version = real_cv
    # catalog is still the interloper's v2; table 'a' unharmed at its v1
    assert lakehouse.catalog_version(root) == 2
    assert sorted(
        r["k"] for r in lakehouse.catalog_read(spark, root, "a").collect()
    ) == [1]


def test_lakehouse_zorder_prunes_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER: on the unclustered (hash) layout, per-file
    min/max stats span both dimensions and prune NOTHING; after the
    z-order rewrite a range predicate on EITHER dimension must prune
    files, and pruned reads must stay row-identical to full scans."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "ztbl")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("a"),
        ((F.col("id") / 64).cast("long") % 64).alias("b"),
        F.col("id").alias("k"),
    )
    lakehouse.snapshot_write(
        df.repartition(8, "k"), path, "append", stats_col=["a", "b"]
    )

    def survivors(version, predicates):
        with open(_os.path.join(path, f"_manifest_v{version}.json")) as f:
            m = _json.load(f)
        col_stats = m.get("col_stats", {})
        keep = []
        for name in m["files"]:
            per_col = col_stats.get(name, {})
            ok = all(
                c not in per_col
                or (per_col[c][0] <= hi and per_col[c][1] >= lo)
                for c, (lo, hi) in predicates.items()
            )
            if ok:
                keep.append(name)
        return keep

    assert len(survivors(1, {"a": (8, 15)})) == 8, "hash layout should not prune"
    assert len(survivors(1, {"b": (8, 15)})) == 8, "hash layout should not prune"

    lakehouse.optimize_zorder(spark, path, ("a", "b"), files=8)
    pruned_a = survivors(2, {"a": (8, 15)})
    pruned_b = survivors(2, {"b": (8, 15)})
    assert len(pruned_a) < 8, "zorder must prune on the first dimension"
    assert len(pruned_b) < 8, "zorder must prune on the SECOND dimension"

    # pruned reads stay exact: every (a, b, k) row of the source
    for col, rng in (("a", (8, 15)), ("b", (8, 15))):
        got = sorted(
            r["k"]
            for r in lakehouse.snapshot_read(spark, path, predicates={col: rng})
            .filter(F.col(col).between(*rng))
            .collect()
        )
        want = sorted(
            r["k"] for r in df.filter(F.col(col).between(*rng)).collect()
        )
        assert got == want, f"pruned read on {col} lost/duplicated rows"


def test_lakehouse_erase_rows_destroys_history(spark, tmp_path):
    """erase_rows must (a) remove the key from EVERY retained version,
    (b) physically delete the original affected files, (c) leave
    unaffected files byte-identical (same names in the manifests), and
    (d) actually erase something (non-vacuous)."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "etbl")
    df = spark.range(1000).select(
        (F.col("id") % 10).alias("cust"), F.col("id").alias("k")
    )
    # range layout on cust: the victim's rows concentrate in one file
    # per snapshot, so the others must survive the erasure untouched
    lakehouse.snapshot_write(
        df.filter(F.col("k") < 500).repartitionByRange(4, "cust"), path
    )
    lakehouse.snapshot_write(
        df.filter(F.col("k") >= 500).repartitionByRange(4, "cust"), path
    )
    with open(_os.path.join(path, "_manifest_v2.json")) as f:
        before = _json.load(f)["files"]
    n = lakehouse.erase_rows(spark, path, "cust", 7)
    assert n > 0, "vacuous erasure"
    with open(_os.path.join(path, "_manifest_v2.json")) as f:
        after = _json.load(f)["files"]
    # every version is clean, and row counts drop by exactly the victim's rows
    for v, lo, hi in ((1, 0, 500), (2, 0, 1000)):
        rows = lakehouse.snapshot_read(spark, path, v).collect()
        assert all(r["cust"] != 7 for r in rows), f"v{v} still has the key"
        want = [k for k in range(lo, hi) if k % 10 != 7]
        assert sorted(r["k"] for r in rows) == want, f"v{v} lost neighbors"
    # original affected files are gone from disk; unaffected unchanged
    rewritten = set(before) - set(after)
    assert rewritten, "no files were rewritten"
    for name in rewritten:
        assert not _os.path.exists(_os.path.join(path, name)), (
            f"erased file {name} still on disk"
        )
    assert set(before) & set(after), "unaffected files should be reused"


def test_lakehouse_clone_is_zero_copy_and_independent(spark, tmp_path):
    """snapshot_clone must share data file INODES with the source (no
    byte copy), evolve independently (appends invisible across the
    fork), and survive the source being vacuumed/overwritten — the
    link(2) refcount keeps shared files alive until the LAST table
    releases them."""
    import os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df1 = spark.range(100).select(F.col("id").alias("k"))
    assert lakehouse.snapshot_write(df1, src, "append") == 1
    assert lakehouse.snapshot_clone(src, dst) == 1
    # zero copy: every clone data file is the SAME inode as the source's
    import json

    with open(lakehouse._manifest_path(dst, 1)) as f:
        files = json.load(f)["files"]
    assert files
    for name in files:
        assert (
            os.stat(os.path.join(src, name)).st_ino
            == os.stat(os.path.join(dst, name)).st_ino
        )
    # independent evolution: clone append invisible to source
    df2 = spark.range(100, 120).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df2, dst, "append")
    assert lakehouse.snapshot_read(spark, src).count() == 100
    assert lakehouse.snapshot_read(spark, dst).count() == 120
    # source overwrite + vacuum releases ITS links; the clone's survive
    lakehouse.snapshot_write(df2, src, "overwrite")
    lakehouse.vacuum(src, retain_versions=1)
    assert lakehouse.snapshot_read(spark, dst).count() == 120
    assert lakehouse.snapshot_read(spark, dst, 1).count() == 100


def test_lakehouse_versioned_merge_is_order_independent(spark, tmp_path):
    """merge_into_latest's apply-if-newer rule must make batch order
    irrelevant: applying {old, new} as new-then-old must equal
    old-then-new (commutativity), and re-applying a batch must change
    nothing (idempotence) — the properties that let an at-least-once,
    out-of-order stream converge to the per-key argmax."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    def fresh(name):
        path = str(tmp_path / name)
        seed = spark.createDataFrame(
            [], "k BIGINT, v BIGINT, ver BIGINT"
        )
        lakehouse.snapshot_write(seed, path, "append")
        return path

    old = spark.createDataFrame([(1, 10, 1), (2, 20, 1)], "k BIGINT, v BIGINT, ver BIGINT")
    new = spark.createDataFrame([(1, 11, 2), (3, 30, 2)], "k BIGINT, v BIGINT, ver BIGINT")

    def apply(path, batches):
        for b in batches:
            lakehouse.merge_into_latest(spark, path, b, "k", ["ver"], ["v"])
        return {
            tuple(r)
            for r in lakehouse.snapshot_read(spark, path)
            .select("k", "v", "ver")
            .collect()
        }

    fwd = apply(fresh("fwd"), [old, new])
    rev = apply(fresh("rev"), [new, old])
    dup = apply(fresh("dup"), [new, old, new])
    expect = {(1, 11, 2), (2, 20, 1), (3, 30, 2)}
    assert fwd == expect and rev == expect and dup == expect


def test_lakehouse_versioned_merge_reduces_duplicate_key_sources(spark, tmp_path):
    """A source batch carrying several rows for one key must merge as
    its per-key NEWEST row only — the full-outer join must never fan a
    matched target row out per duplicate (review finding: the snapshot
    would hold >1 row per key)."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    seed = spark.createDataFrame([(1, 5, 0)], "k BIGINT, v BIGINT, ver BIGINT")
    lakehouse.snapshot_write(seed, path, "append")
    dup = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 9, 3), (2, 20, 1)],
        "k BIGINT, v BIGINT, ver BIGINT",
    )
    lakehouse.merge_into_latest(spark, path, dup, "k", ["ver"], ["v"])
    rows = {
        tuple(r)
        for r in lakehouse.snapshot_read(spark, path).select("k", "v", "ver").collect()
    }
    assert rows == {(1, 9, 3), (2, 20, 1)}


def test_lakehouse_table_history_reports_commit_metadata(spark, tmp_path):
    """table_history must reflect every manifest's mode/file counts —
    including clones and MoR deletes — without opening a data file,
    and skip vacuumed versions instead of raising."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    df1 = spark.range(100).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df1, src, "append")
    lakehouse.snapshot_write(
        spark.range(100, 120).select(F.col("id").alias("k")), src, "append"
    )
    lakehouse.snapshot_clone(src, dst)
    hist = lakehouse.table_history(src)
    assert [h["version"] for h in hist] == [1, 2]
    assert hist[0]["mode"] == "append" and hist[1]["n_files"] > hist[0]["n_files"]
    ch = lakehouse.table_history(dst)
    assert ch[0]["mode"] == "clone" and ch[0]["cloned_from"]["path"] == src
    lakehouse.vacuum(src, retain_versions=1)
    assert [h["version"] for h in lakehouse.table_history(src)] == [2]


def test_lakehouse_erase_works_with_mor_deletes_in_history(spark, tmp_path):
    """Erasure on a table whose history carries MoR delete files must
    (a) run (the first cut rejected it forever — review finding),
    (b) remap each delete's data-file scope through the rewrite so
    sequence scoping survives, and (c) still raise for the one
    genuinely un-erasable shape: a delete file keyed on the erased
    column."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, k % 5, 100 + k) for k in range(50)], "k BIGINT, cust BIGINT, v BIGINT"
    )
    lakehouse.snapshot_write(df, path, "append")
    doomed = spark.createDataFrame([(7,), (8,)], "k BIGINT")
    lakehouse.delete_where(spark, path, "k", doomed)
    # erase customer 3 across history, deletes present
    n = lakehouse.erase_rows(spark, path, "cust", 3)
    assert n > 0
    rows = {r.k for r in lakehouse.snapshot_read_mor(spark, path).collect()}
    assert rows == {k for k in range(50) if k % 5 != 3 and k not in (7, 8)}
    # v1 (pre-delete snapshot) also erased
    v1 = {r.k for r in lakehouse.snapshot_read(spark, path, 1).collect()}
    assert v1 == {k for k in range(50) if k % 5 != 3}
    # erasing the delete-key column itself must refuse
    with pytest.raises(ValueError):
        lakehouse.erase_rows(spark, path, "k", 9)


def test_lakehouse_multi_table_commit_ignores_orphan_snapshots(spark, tmp_path):
    """A durable-but-uncommitted phase-1 snapshot (crashed transaction)
    must NOT leak into the next successful commit to the SAME table:
    appends base on the catalog-pinned version, not the table's latest
    manifest (review finding)."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    t1 = spark.createDataFrame([(1,), (2,)], "k BIGINT")
    lakehouse.multi_table_commit(spark, root, {"a": t1})
    # simulate a crash AFTER phase 1: a snapshot published with no
    # catalog link
    orphan = spark.createDataFrame([(3,)], "k BIGINT")
    lakehouse.snapshot_write(orphan, os.path.join(root, "a"), "append")
    # a diverged table is an ERROR by default (could be a legitimate
    # direct writer whose data would be silently discarded)...
    import pytest

    with pytest.raises(lakehouse.ConcurrentWriteError):
        lakehouse.multi_table_commit(
            spark, root, {"a": spark.createDataFrame([(4,)], "k BIGINT")}
        )
    # ...and discarding crashed-transaction leftovers is an explicit
    # operator decision; the committed state then excludes the orphan
    lakehouse.multi_table_commit(
        spark,
        root,
        {"a": spark.createDataFrame([(4,)], "k BIGINT")},
        on_orphans="ignore",
    )
    rows = {r.k for r in lakehouse.catalog_read(spark, root, "a").collect()}
    assert rows == {1, 2, 4}, f"orphan leaked: {rows}"


def test_lakehouse_tags_pin_versions(spark, tmp_path):
    """Named refs: a tag reads the pinned version forever (later
    appends invisible through it), re-tagging raises, and tagging a
    nonexistent version raises."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(100).select(F.col("id").alias("k")), path, "append"
    )
    assert lakehouse.create_tag(path, "audit-2026q3") == 1
    lakehouse.snapshot_write(
        spark.range(100, 150).select(F.col("id").alias("k")), path, "append"
    )
    assert lakehouse.read_tag(spark, path, "audit-2026q3").count() == 100
    assert lakehouse.snapshot_read(spark, path).count() == 150
    with pytest.raises(ValueError):
        lakehouse.create_tag(path, "audit-2026q3", 2)
    with pytest.raises(FileNotFoundError):
        lakehouse.create_tag(path, "nope", 9)


def test_lakehouse_restore_preserves_mor_deletes(spark, tmp_path):
    """RESTORE of a delete-carrying version must restore the LOGICAL
    content: the raw reader would resurrect MoR-deleted rows into the
    new committed snapshot (review finding)."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(20).select(F.col("id").alias("k")), path, "append"
    )
    lakehouse.delete_where(
        spark, path, "k", spark.createDataFrame([(3,), (4,)], "k BIGINT")
    )  # v2
    lakehouse.snapshot_write(
        spark.range(100, 105).select(F.col("id").alias("k")), path, "overwrite"
    )  # v3: the "oops"
    lakehouse.restore_table(spark, path, 2)  # back to the deleted view
    rows = {r.k for r in lakehouse.snapshot_read(spark, path).collect()}
    assert rows == set(range(20)) - {3, 4}, rows


def test_lakehouse_vacuum_reclaims_unreferenced_delete_files(spark, tmp_path):
    """Once compaction folds a MoR delete in and retention expires the
    delete-carrying manifests, vacuum must physically remove the
    delete-*.parquet tombstone (its key list is GDPR-relevant residue;
    review finding: the first cut never matched delete-* names) —
    while a delete file still referenced by a retained manifest
    survives."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(20).select(F.col("id").alias("k")), path, "append"
    )
    lakehouse.delete_where(
        spark, path, "k", spark.createDataFrame([(5,)], "k BIGINT")
    )  # v2 references delete file
    def delete_files_on_disk():
        return [n for n in _os.listdir(path) if n.startswith("delete-")]

    assert delete_files_on_disk()
    # retained manifest still references it: vacuum must keep it
    lakehouse.vacuum(path, retain_versions=1)
    assert delete_files_on_disk()
    lakehouse.compact_mor(spark, path)  # v3: clean manifest
    lakehouse.vacuum(path, retain_versions=1)  # expires v2
    assert not delete_files_on_disk()
    assert {r.k for r in lakehouse.snapshot_read(spark, path).collect()} == (
        set(range(20)) - {5}
    )


def test_lakehouse_erase_tolerates_vacuumed_history(spark, tmp_path):
    """erase_rows on a table whose old manifests were vacuumed away
    must skip the missing versions instead of crashing — including the
    compact_mor + vacuum sequence its own delete-key error message
    prescribes (review finding)."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(k, k % 5) for k in range(50)], "k BIGINT, cust BIGINT"
    )
    lakehouse.snapshot_write(df, path, "append")
    # a delete KEYED ON the column we later erase
    lakehouse.delete_where(
        spark, path, "cust", spark.createDataFrame([(1,)], "cust BIGINT")
    )
    # the prescribed remediation: compact, then expire the old manifests
    lakehouse.compact_mor(spark, path)
    lakehouse.vacuum(path, retain_versions=1)
    n = lakehouse.erase_rows(spark, path, "cust", 3)
    assert n > 0
    rows = {r.k for r in lakehouse.snapshot_read(spark, path).collect()}
    assert rows == {k for k in range(50) if k % 5 not in (1, 3)}


def test_lakehouse_timestamp_as_of_read(spark, tmp_path):
    """TIMESTAMP AS OF: reads resolve to the newest snapshot committed
    at or before the given time; times before the first commit raise."""
    import time as _time

    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    t0 = _time.time()
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path, "append"
    )
    t1 = _time.time()
    _time.sleep(0.05)
    lakehouse.snapshot_write(
        spark.range(10, 30).select(F.col("id").alias("k")), path, "append"
    )
    t2 = _time.time()
    assert lakehouse.snapshot_read_asof(spark, path, t1).count() == 10
    assert lakehouse.snapshot_read_asof(spark, path, t2).count() == 30
    with pytest.raises(ValueError):
        lakehouse.snapshot_read_asof(spark, path, t0 - 10)


def test_lakehouse_partition_evolution_prunes_across_mixed_layouts(
    spark, tmp_path
):
    """Hidden partitioning + spec evolution: coarse-aligned commits
    (d DIV 100) then fine-aligned commits (d DIV 10) on NEW data only.
    A day-key predicate must (a) prune whole coarse partitions outside
    its range, (b) prune fine partitions individually inside the fine
    era, and (c) read pruned == read full on rows — no migration of
    the coarse-era files ever happens."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "ptbl")
    old = spark.range(300).select(F.col("id").alias("d"))  # d in 0..299
    new = spark.range(300, 400).select(F.col("id").alias("d"))  # 300..399
    lakehouse.write_partition_aligned(old, path, "d DIV 100", stats_col="d")
    v_coarse = lakehouse.current_version(path)
    assert v_coarse == 3  # one commit per coarse partition
    lakehouse.write_partition_aligned(new, path, "d DIV 10", stats_col="d")
    assert lakehouse.current_version(path) == v_coarse + 10

    with open(_os.path.join(path, f"_manifest_v{v_coarse + 10}.json")) as f:
        m = _json.load(f)
    assert len(m["files"]) == 13  # 3 coarse + 10 fine, none rewritten

    def survivors(lo, hi):
        return [
            n
            for n in m["files"]
            if m["stats"][n][0] <= hi and m["stats"][n][1] >= lo
        ]

    # range spanning the spec boundary: one coarse file + two fine files
    assert len(survivors(250, 315)) == 3
    # fine-era range: day files prune individually (coarse spec would
    # have kept a whole 100-wide partition)
    assert len(survivors(330, 349)) == 2
    # pruned read == full read on rows, across both layouts
    got = sorted(
        r["d"]
        for r in lakehouse.snapshot_read(spark, path, between=(250, 315))
        .filter(F.col("d").between(250, 315))
        .collect()
    )
    assert got == list(range(250, 316))


def test_branch_merge_semantics_and_clone_with_deletes(spark, tmp_path):
    """Branch/FF-merge edge semantics the oracle query can't pin:
    (a) cloning/branching a table that already CARRIES a MoR delete
    file links the delete and applies it on the branch (the d[0]
    format fix — d['file'] crashed here); (b) a diverged main refuses
    the fast-forward with ConcurrentWriteError and is left unchanged;
    (c) an empty branch merges as a no-op."""
    import pytest as _pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(20).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df, path, "append")
    # a MoR delete on MAIN before branching: k in {0, 1}
    lakehouse.delete_where(
        spark, path, "k", spark.range(2).select(F.col("id").alias("k"))
    )
    bpath = lakehouse.create_branch(path, "dev")  # clone WITH deletes
    got = sorted(
        r["k"] for r in lakehouse.snapshot_read_mor(spark, bpath).collect()
    )
    assert got == list(range(2, 20)), "branch must inherit the MoR delete"

    # (c) merging a branch with no new commits is a version no-op
    v_before = lakehouse.current_version(path)
    assert lakehouse.merge_branch_ff(path, "dev") == v_before

    # (b) diverge main, then branch writes; FF must refuse
    lakehouse.snapshot_write(
        spark.range(20, 25).select(F.col("id").alias("k")), path, "append"
    )
    lakehouse.snapshot_write(
        spark.range(30, 35).select(F.col("id").alias("k")), bpath, "append"
    )
    with _pytest.raises(lakehouse.ConcurrentWriteError):
        lakehouse.merge_branch_ff(path, "dev")
    # main unchanged by the refused merge: its rows are 2..24 minus {}
    got_main = sorted(
        r["k"] for r in lakehouse.snapshot_read_mor(spark, path).collect()
    )
    assert got_main == list(range(2, 25))

    # duplicate branch name refused
    with _pytest.raises(lakehouse.ConcurrentWriteError):
        lakehouse.create_branch(path, "dev")


def test_lakehouse_column_rename_is_metadata_only_and_versioned(
    spark, tmp_path
):
    """rename_column must (a) rewrite ZERO data files, (b) compose
    across two renames (mapping stays original-physical → current-
    logical), (c) keep pre-rename versions showing the old name,
    (d) translate appended frames back to the physical layout, and
    (e) keep manifest-level predicate pruning working when the caller
    predicates on the LOGICAL name."""
    import glob
    import os

    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df1 = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    lakehouse.snapshot_write(df1, path, "append", stats_col=["v"])
    files_before = sorted(glob.glob(os.path.join(path, "data-*.parquet")))
    lakehouse.rename_column(path, "v", "v2")
    lakehouse.rename_column(path, "v2", "cents")  # compose
    assert (
        sorted(glob.glob(os.path.join(path, "data-*.parquet")))
        == files_before
    ), "rename rewrote data files"
    # (b) mapping composed: physical 'v' → logical 'cents'
    assert lakehouse.snapshot_read(spark, path).columns == ["k", "cents"]
    # (c) time travel shows the historical name
    assert lakehouse.snapshot_read(spark, path, 1).columns == ["k", "v"]
    # (d) append under the logical name; sum spans both generations
    df2 = spark.range(100, 110).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("cents")
    )
    lakehouse.snapshot_write(df2, path, "append", stats_col=["cents"])
    got = lakehouse.snapshot_read(spark, path)
    assert got.columns == ["k", "cents"]
    assert got.agg(F.sum("cents")).collect()[0][0] == sum(
        2 * i for i in range(110)
    )
    # (e) logical-name predicate pruning: range matching only the new
    # file must prune the old generation's files
    pruned = lakehouse.snapshot_read(
        spark, path, predicates={"cents": (200, 218)}
    )
    assert pruned.count() == 10
    assert pruned.inputFiles() and all(
        os.path.basename(f) not in [os.path.basename(x) for x in files_before]
        for f in pruned.inputFiles()
    ), "logical predicate did not prune pre-rename files"
    # guard: MoR delete on a MAPPED table must refuse (the delete file
    # would store logical keys against physical columns)
    with pytest.raises(ValueError, match="column mapping"):
        lakehouse.delete_where(
            spark, path, "k", spark.range(5, 6).select(F.col("id").alias("k"))
        )
    # guard the other way: rename with pending MoR deletes must refuse
    path_b = str(tmp_path / "tbl_b")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path_b, "append"
    )
    lakehouse.delete_where(
        spark, path_b, "k", spark.range(5, 6).select(F.col("id").alias("k"))
    )
    with pytest.raises(ValueError, match="compact_mor"):
        lakehouse.rename_column(path_b, "k", "key")


def test_lakehouse_merge_schema_evolution_guards(spark, tmp_path):
    """MERGE schema evolution: evolve_schema=True widens the table in
    one commit (untouched rows read NULL, matched rows take the source
    value), the default is a widening ERROR not a silent column drop,
    and after evolution a NARROW append is refused — the manifest's
    empty-scope default entry is the guard."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "evolve")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path, "append"
    )
    src = spark.range(0, 10, 2).select(
        F.col("id").alias("k"), F.lit("web").alias("chan")
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        lakehouse.merge_into(spark, path, src, "k", ["chan"])
    v = lakehouse.merge_into(
        spark, path, src, "k", ["chan"], evolve_schema=True
    )
    rows = {
        r["k"]: r["chan"] for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert rows[0] == "web" and rows[1] is None and len(rows) == 10
    # time travel to the pre-evolve version must NOT show the column
    assert lakehouse.snapshot_read(spark, path, v - 1).columns == ["k"]
    # the narrow-append guard: the table's schema cannot silently shrink
    with pytest.raises(ValueError, match="defaulted column"):
        lakehouse.snapshot_write(
            spark.range(20, 21).select(F.col("id").alias("k")), path, "append"
        )
    # a carrying append is fine, and NULLs stay NULLs (no backfill)
    lakehouse.snapshot_write(
        spark.range(30, 31).select(
            F.col("id").alias("k"), F.lit(None).cast("string").alias("chan")
        ),
        path,
        "append",
    )
    rows2 = {
        r["k"]: r["chan"] for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert rows2[30] is None and rows2[0] == "web" and len(rows2) == 11


def test_lakehouse_default_column_scoping_and_guards(spark, tmp_path):
    """Initial-default semantics: pre-add files read back the default,
    post-add explicit NULLs survive, time travel to the pre-add
    version has no such column, a narrow append is refused, and
    rename×default composition is refused both ways."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path, "append"
    )
    lakehouse.add_column_default(path, "src", "string", "legacy")
    lakehouse.snapshot_write(
        spark.range(10, 13).select(
            F.col("id").alias("k"),
            F.when(F.col("id") == 11, F.lit(None)).otherwise(F.lit("new"))
            .alias("src"),
        ),
        path,
        "append",
    )
    rows = {
        r["k"]: r["src"] for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert rows[0] == "legacy" and rows[10] == "new" and rows[11] is None
    assert lakehouse.snapshot_read(spark, path, 1).columns == ["k"]
    with pytest.raises(ValueError, match="defaulted column"):
        lakehouse.snapshot_write(
            spark.range(20, 21).select(F.col("id").alias("k")), path, "append"
        )
    with pytest.raises(ValueError, match="initial-default"):
        lakehouse.rename_column(path, "src", "origin")
    path2 = str(tmp_path / "tbl2")
    lakehouse.snapshot_write(
        spark.range(3).select(F.col("id").alias("k")), path2, "append"
    )
    lakehouse.rename_column(path2, "k", "key")
    with pytest.raises(ValueError, match="renamed table"):
        lakehouse.add_column_default(path2, "src", "string", "x")
    # clone must preserve the logical identity: defaults AND mapping
    c1 = str(tmp_path / "clone_dft")
    lakehouse.snapshot_clone(path, c1)
    assert {
        r["k"]: r["src"] for r in lakehouse.snapshot_read(spark, c1).collect()
    } == rows
    c2 = str(tmp_path / "clone_ren")
    lakehouse.snapshot_clone(path2, c2)
    assert lakehouse.snapshot_read(spark, c2).columns == ["key"]


def test_lakehouse_catalog_batch_ids_survive_interleaved_commits(
    spark, tmp_path
):
    """The catalog-level streaming-idempotence gate must survive an
    interleaved NON-stream multi-table commit: batch ids accumulate
    across every catalog version, so a stream restart after someone
    else committed still skips its already-ingested batches."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    df = spark.range(5).select(F.col("id").alias("k"))
    lakehouse.multi_table_commit(spark, root, {"a": df}, batch_id=0)
    # interleaved non-stream commit (no batch_id)
    lakehouse.multi_table_commit(spark, root, {"a": df})
    cv = lakehouse.catalog_version(root)
    import json as _json
    import os as _os

    with open(lakehouse._catalog_path(root, cv)) as f:
        assert _json.load(f)["batch_ids"] == [0], (
            "interleaved commit dropped the catalog batch-id history"
        )
    assert lakehouse.catalog_read(spark, root, "a").count() == 10


def test_lakehouse_null_count_pruning_skips_all_null_files(spark, tmp_path):
    """predicates={col: 'notnull'} must drop files whose recorded null
    count equals their row count at the MANIFEST level, keep every
    mixed file, and compose with range predicates."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    all_null = spark.range(10).select(
        F.col("id").alias("k"), F.lit(None).cast("bigint").alias("v")
    )
    mixed = spark.range(10, 20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") == 12, F.lit(None)).otherwise(F.col("id"))
        .cast("bigint")
        .alias("v"),
    )
    lakehouse.snapshot_write(all_null.coalesce(1), path, "append", stats_col=["v"])
    lakehouse.snapshot_write(mixed.coalesce(1), path, "append", stats_col=["v"])
    full = lakehouse.snapshot_read(spark, path)
    assert len(full.inputFiles()) == 2
    pruned = lakehouse.snapshot_read(spark, path, predicates={"v": "notnull"})
    assert len(pruned.inputFiles()) == 1, "all-NULL file not skipped"
    assert pruned.filter(F.col("v").isNotNull()).count() == 9
    both = lakehouse.snapshot_read(
        spark, path, predicates={"v": "notnull", "k": (10, 20)}
    )
    assert len(both.inputFiles()) == 1


def test_lakehouse_default_guards_pending_mor_deletes(spark, tmp_path):
    """add_column_default on a table carrying live MoR delete files must
    refuse (snapshot_read_mor's raw group reads know nothing about
    defaults — review finding), exactly as rename_column does; after
    compact_mor the add succeeds and the MoR read resolves the column."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path, "append"
    )
    lakehouse.delete_where(
        spark, path, "k", spark.range(5, 6).select(F.col("id").alias("k"))
    )
    with pytest.raises(ValueError, match="pending MoR delete"):
        lakehouse.add_column_default(path, "c1", "bigint", 7)
    lakehouse.compact_mor(spark, path)
    lakehouse.add_column_default(path, "c1", "bigint", 7)
    rows = {
        r["k"]: r["c1"]
        for r in lakehouse.snapshot_read_mor(spark, path).collect()
    }
    assert 5 not in rows and rows[0] == 7 and len(rows) == 9


def test_lakehouse_erase_preserves_default_scope_and_old_schemas(
    spark, tmp_path
):
    """erase_rows on a defaults-carrying table must remap the default's
    file-name SCOPE through the rewrite (un-remapped, every surviving
    pre-add row silently read back NULL instead of the default — review
    finding), keep post-add explicit NULLs explicit, refresh null_stats
    under the new file names, and NOT leak later-version columns into
    time-travel reads of pre-add versions."""
    import json as _json
    import os as _os

    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")).coalesce(1),
        path,
        "append",
        stats_col=["k"],
    )
    lakehouse.add_column_default(path, "channel", "string", "web")
    lakehouse.snapshot_write(
        spark.range(10, 13).select(
            F.col("id").alias("k"),
            F.when(F.col("id") == 11, F.lit(None)).otherwise(F.lit("store"))
            .alias("channel"),
        ).coalesce(1),
        path,
        "append",
        stats_col=["k"],
    )
    # erasing BY the defaulted column is refused (pre-add rows carry the
    # default logically but store nothing physically)
    with pytest.raises(ValueError, match="initial-default column"):
        lakehouse.erase_rows(spark, path, "channel", "web")
    n = lakehouse.erase_rows(spark, path, "k", 3)
    assert n > 0
    rows = {
        r["k"]: r["channel"]
        for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert 3 not in rows
    assert all(rows[k] == "web" for k in range(10) if k != 3), (
        "surviving pre-add rows lost their default"
    )
    assert rows[10] == "store" and rows[11] is None and rows[12] == "store"
    # time travel to the pre-add version: replacement files physically
    # carry the later 'channel' column; the manifest-schema projection
    # must keep it out
    v1 = lakehouse.snapshot_read(spark, path, 1)
    assert v1.columns == ["k"]
    assert sorted(r["k"] for r in v1.collect()) == [
        k for k in range(10) if k != 3
    ]
    # manifest hygiene: no stats/null_stats keyed by vanished files, and
    # the default scope references only live files
    latest = lakehouse.current_version(path)
    with open(_os.path.join(path, f"_manifest_v{latest}.json")) as f:
        m = _json.load(f)
    live = set(m["files"])
    assert set(m.get("null_stats", {})) <= live
    assert set(m.get("col_stats", {})) <= live
    assert set(m["defaults"]["channel"]["scope"]) <= live


def test_lakehouse_append_racing_add_default_is_refused(spark, tmp_path):
    """An append planned before an add_column_default lands must raise
    ConcurrentWriteError at commit instead of publishing a schema that
    silently drops the new defaulted column (review finding). Injected
    by adding the column between the planning read and the commit-loop
    read of current_version."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(5).select(F.col("id").alias("k")), path, "append"
    )
    orig_cv = lakehouse.current_version
    state = {"calls": 0, "injected": False}

    def racing_cv(p):
        state["calls"] += 1
        # call 1 = snapshot_write's planning read; call 2 = the commit
        # loop's read — inject the competing DDL exactly between them
        if state["calls"] == 2 and not state["injected"]:
            state["injected"] = True
            lakehouse.add_column_default(path, "channel", "string", "web")
        return orig_cv(p)

    lakehouse.current_version = racing_cv
    try:
        with pytest.raises(
            lakehouse.ConcurrentWriteError, match="defaulted columns changed"
        ):
            lakehouse.snapshot_write(
                spark.range(5, 8).select(F.col("id").alias("k")),
                path,
                "append",
            )
    finally:
        lakehouse.current_version = orig_cv
    # the table still carries the defaulted column for every read
    assert "channel" in lakehouse.snapshot_read(spark, path).columns


def test_lakehouse_delete_commit_absorbs_interleaved_append(spark, tmp_path):
    """delete_where's commit loop must rebuild from the manifest that is
    current AT COMMIT (review finding: it used to publish from a fresh
    manifest read without re-running its guards, and could strip keys).
    An append landing between the delete's pre-check and its commit is
    absorbed: the published delete scopes over the appended file too."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path, "append"
    )
    orig_cv = lakehouse.current_version
    state = {"calls": 0, "injected": False}

    def racing_cv(p):
        state["calls"] += 1
        # call 1 = delete_where's pre-check; call 2 = its commit loop —
        # inject a competing append exactly between them
        if state["calls"] == 2 and not state["injected"]:
            state["injected"] = True
            lakehouse.current_version = orig_cv
            try:
                lakehouse.snapshot_write(
                    spark.range(10, 15).select(F.col("id").alias("k")),
                    path,
                    "append",
                )
            finally:
                lakehouse.current_version = racing_cv
        return orig_cv(p)

    lakehouse.current_version = racing_cv
    try:
        lakehouse.delete_where(
            spark,
            path,
            "k",
            spark.createDataFrame([(4,), (12,)], "k bigint"),
        )
    finally:
        lakehouse.current_version = orig_cv
    got = sorted(
        r["k"] for r in lakehouse.snapshot_read_mor(spark, path).collect()
    )
    assert got == [k for k in range(15) if k not in (4, 12)], (
        "interleaved append was lost or its keys escaped the delete"
    )


def test_lakehouse_footer_stats_single_parse(tmp_path):
    """_footer_stats returns min/max AND null counts for every column
    from one footer parse, including an all-NULL column (null counts
    present, no min/max) — the write path's per-file metadata read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from embarrassingly_parallel_image_classification_spark.plans.lakehouse import (
        _footer_stats,
    )

    p = str(tmp_path / "f.parquet")
    pq.write_table(
        pa.table(
            {
                "a": pa.array([3, 1, 2], pa.int64()),
                "b": pa.array([None, None, None], pa.int64()),
                "c": pa.array([1.5, None, 2.5], pa.float64()),
            }
        ),
        p,
    )
    per_col, per_null = _footer_stats(p, ["a", "b", "c", "missing"])
    assert per_col["a"] == [1, 3] and "b" not in per_col
    assert per_null["a"] == [0, 3]
    assert per_null["b"] == [3, 3], "all-NULL column must stay skippable"
    assert per_null["c"] == [1, 3] and per_col["c"] == [1.5, 2.5]
    assert "missing" not in per_col and "missing" not in per_null
    # cols=None scans the whole schema
    all_col, all_null = _footer_stats(p, None)
    assert set(all_null) == {"a", "b", "c"}


def test_cbo_statistics_drive_join_reorder(spark):
    """Engine surface pin: ANALYZE TABLE catalog statistics flow into
    the optimizer (rowCount attached to the plan) and, with CBO +
    joinReorder enabled, a 3-table inner-join chain written
    big⋈mid⋈small is REORDERED to join the two small relations first —
    the cost-based behavior SURVEY §4 lists as available-when-needed.
    Conf hygiene: both flags are restored to their prior state,
    UNSETTING when they were unset (the q_sql_scripting ADVICE
    lesson — leaving engine flags flipped changes every later query
    in the shared session)."""
    names = ("cbo_big", "cbo_mid", "cbo_small")
    sizes = (100_000, 10_000, 100)
    prev = {
        k: spark.conf.get(k, None)
        for k in ("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
    }
    try:
        for name, n in zip(names, sizes):
            # a stale warehouse dir from a crashed run blocks managed-
            # table creation under a fresh in-memory catalog
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(
                os.path.join(
                    spark.conf.get("spark.sql.warehouse.dir").removeprefix(
                        "file:"
                    ),
                    name,
                ),
                ignore_errors=True,
            )
            spark.range(n).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            ).write.mode("overwrite").saveAsTable(name)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR ALL COLUMNS")
        q = ("SELECT COUNT(*) FROM cbo_big b "
             "JOIN cbo_mid m ON b.k = m.k "
             "JOIN cbo_small s ON m.k = s.k")

        def relation_order(sql: str) -> list:
            plan = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
            return sorted(names, key=plan.index)

        spark.conf.set("spark.sql.cbo.enabled", "false")
        assert relation_order(q) == ["cbo_big", "cbo_mid", "cbo_small"], (
            "without CBO the join tree follows the written order"
        )
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        # catalog stats reach the plan only under CBO: exact rowCount,
        # not a file-size guess
        st = spark.table("cbo_big")._jdf.queryExecution().optimizedPlan().stats()
        assert "100000" in st.rowCount().toString()
        order_on = relation_order(q)
        assert order_on.index("cbo_big") == 2, (
            f"CBO must defer the big relation to the last join: {order_on}"
        )
        # and the reordered plan still computes the same answer
        assert spark.sql(q).collect()[0][0] == 100
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_lakehouse_vacuum_crash_orphans_and_age_guard(spark, tmp_path):
    """Crash-window hygiene: a data file renamed into place whose
    manifest link never landed, and a leftover _staging_ scratch dir,
    are both invisible to readers and RECLAIMED by vacuum — but spared
    by an age guard (min_age_s) so a concurrent in-flight write's
    just-renamed files can never be swept before their commit lands
    (the Delta retention-check race)."""
    import os as _os
    import shutil as _shutil

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(10).select(F.col("id").alias("k")), path, "append"
    )
    # simulate a crash between the staged-file rename and the manifest
    # link: an orphan data file no manifest references...
    orphan = _os.path.join(path, "data-deadbeef.parquet")
    spark.range(5).select(F.col("id").alias("k")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "scratch"))
    part = next(
        n for n in _os.listdir(str(tmp_path / "scratch"))
        if n.endswith(".parquet")
    )
    _shutil.copy(_os.path.join(str(tmp_path / "scratch"), part), orphan)
    # ...and a crashed staging dir plus a crashed manifest tmp from an
    # interrupted commit
    _os.makedirs(_os.path.join(path, "_staging_deadbeef"))
    tmp_manifest = _os.path.join(path, "_manifest_v2.json.tmpdeadbeef")
    with open(tmp_manifest, "w") as f:
        f.write("{}")
    # the crashed tmp never affects version resolution
    assert lakehouse.current_version(path) == 1
    # readers never see the orphan
    assert lakehouse.snapshot_read(spark, path).count() == 10
    # a fresh-file age guard spares both (the in-flight-write race)
    spared = lakehouse.vacuum(path, retain_versions=5, min_age_s=3600)
    assert spared == [] and _os.path.exists(orphan)
    # immediate vacuum reclaims all three
    removed = lakehouse.vacuum(path, retain_versions=5)
    assert "data-deadbeef.parquet" in removed
    assert "_staging_deadbeef" in removed
    assert "_manifest_v2.json.tmpdeadbeef" in removed
    assert not _os.path.exists(orphan)
    assert not _os.path.exists(_os.path.join(path, "_staging_deadbeef"))
    assert not _os.path.exists(tmp_manifest)
    # the table itself is untouched
    assert lakehouse.snapshot_read(spark, path).count() == 10


def test_lakehouse_catalog_vacuum_expires_versions_and_tmps(spark, tmp_path):
    """catalog_vacuum keeps the newest retain_versions catalog files,
    reclaims crashed commit tmps under the age guard, and never
    touches table data (each table's own vacuum owns that layer)."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    for i in range(4):
        lakehouse.multi_table_commit(
            spark, root, {"a": spark.createDataFrame([(i,)], "k bigint")}
        )
    with open(_os.path.join(root, "_catalog_v9.json.tmpdead"), "w") as f:
        f.write("{}")
    assert lakehouse.catalog_version(root) == 4, "tmp must stay invisible"
    # age guard spares the (possibly in-flight) tmp
    assert lakehouse.catalog_vacuum(root, 2, min_age_s=3600) == [
        "_catalog_v1.json",
        "_catalog_v2.json",
    ]
    removed = lakehouse.catalog_vacuum(root, 2)
    assert "_catalog_v9.json.tmpdead" in removed
    # newest two catalog versions survive; reads still work
    assert lakehouse.catalog_version(root) == 4
    got = sorted(
        r["k"] for r in lakehouse.catalog_read(spark, root, "a").collect()
    )
    assert got == [0, 1, 2, 3]


def test_lakehouse_vacuum_keeps_tag_pinned_versions(spark, tmp_path):
    """A tagged snapshot must survive ANY retention horizon (Iceberg
    expire_snapshots contract: live refs pin their snapshot); deleting
    the ref releases it to the next vacuum; crashed ref tmps are
    reclaimed under the age rule."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    for i in range(4):
        lakehouse.snapshot_write(
            spark.createDataFrame([(i,)], "k bigint"), path, "append"
        )
    lakehouse.create_tag(path, "release", version=1)
    with open(_os.path.join(path, "_ref_dead.json.tmpbeef"), "w") as f:
        f.write("{}")
    removed = lakehouse.vacuum(path, retain_versions=1)
    assert "_ref_dead.json.tmpbeef" in removed
    # v1 (tagged) manifest and its file survive; v2/v3 expired
    assert _os.path.exists(_os.path.join(path, "_manifest_v1.json"))
    assert not _os.path.exists(_os.path.join(path, "_manifest_v2.json"))
    got = sorted(
        r["k"] for r in lakehouse.read_tag(spark, path, "release").collect()
    )
    assert got == [0], "tagged version must stay readable after vacuum"
    # latest still reads fully (v1's file is shared by v4's file list)
    assert lakehouse.snapshot_read(spark, path).count() == 4
    # releasing the ref lets the snapshot expire on the next vacuum
    _os.remove(_os.path.join(path, "_ref_release.json"))
    lakehouse.vacuum(path, retain_versions=1)
    assert not _os.path.exists(_os.path.join(path, "_manifest_v1.json"))
    assert lakehouse.snapshot_read(spark, path).count() == 4


def test_lakehouse_table_vacuum_keeps_catalog_pinned_versions(
    spark, tmp_path
):
    """A table-level vacuum on a catalog-managed table must keep every
    snapshot a LIVE catalog version still references (the same
    broken-live-ref class as tags, one layer up): after expiring old
    CATALOG versions, the table snapshots they pinned become
    reclaimable on the next table vacuum — the two-layer expiry
    choreography catalog_vacuum's docstring names."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    for i in range(4):
        lakehouse.multi_table_commit(
            spark, root, {"a": spark.createDataFrame([(i,)], "k bigint")}
        )
    tbl = _os.path.join(root, "a")
    # aggressive table retention: recency alone would expire v1-v3,
    # but catalog v1..v4 still reference them
    lakehouse.vacuum(tbl, retain_versions=1)
    for cv in (1, 2, 3, 4):
        got = sorted(
            r["k"]
            for r in lakehouse.catalog_read(
                spark, root, "a", at_catalog_version=cv
            ).collect()
        )
        assert got == list(range(cv)), f"catalog v{cv} read broke"
    # expire catalog v1/v2, then the table snapshots they pinned
    # (v1, v2) become reclaimable; v3 stays (catalog v3 lives)
    lakehouse.catalog_vacuum(root, retain_versions=2)
    lakehouse.vacuum(tbl, retain_versions=1)
    assert not _os.path.exists(_os.path.join(tbl, "_manifest_v1.json"))
    assert not _os.path.exists(_os.path.join(tbl, "_manifest_v2.json"))
    assert _os.path.exists(_os.path.join(tbl, "_manifest_v3.json"))
    got = sorted(
        r["k"]
        for r in lakehouse.catalog_read(
            spark, root, "a", at_catalog_version=3
        ).collect()
    )
    assert got == [0, 1, 2]


def test_lakehouse_vacuum_never_sweeps_a_just_committed_manifest(
    spark, tmp_path, monkeypatch
):
    """Concurrent-writer guard (advice r6): a writer committing
    v=latest+1 BETWEEN vacuum's current_version() snapshot and its
    os.listdir() must keep its manifest — min_age_s guards data files
    and tmps, not linked manifests, so without the `v <= latest` guard
    the brand-new version would be expired as 'not in keep_versions'
    and its data files reclaimed on the next sweep (data loss).
    Simulated deterministically by pinning current_version to the
    pre-commit value while v3 already exists on disk."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    assert lakehouse.snapshot_write(df, path, "append") == 1
    assert lakehouse.snapshot_write(df, path, "append") == 2
    assert lakehouse.snapshot_write(df, path, "append") == 3  # the racer
    real = lakehouse.current_version
    monkeypatch.setattr(
        lakehouse,
        "current_version",
        lambda p: 2 if _os.path.abspath(p) == _os.path.abspath(path) else real(p),
    )
    lakehouse.vacuum(path, retain_versions=1)  # horizon = {2}
    monkeypatch.undo()
    # v1 expired (behind the horizon), v3 (committed after the scan) kept
    assert not _os.path.exists(_os.path.join(path, "_manifest_v1.json"))
    assert _os.path.exists(_os.path.join(path, "_manifest_v3.json"))
    assert lakehouse.snapshot_read(spark, path, 3).count() == 30


def test_lakehouse_catalog_vacuum_never_sweeps_a_just_committed_version(
    spark, tmp_path, monkeypatch
):
    """Same race one layer up: a catalog version committed after
    catalog_vacuum read catalog_version() is newer than the retention
    horizon and must survive the sweep."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    for i in range(3):
        lakehouse.multi_table_commit(
            spark, root, {"a": spark.createDataFrame([(i,)], "k bigint")}
        )
    real = lakehouse.catalog_version
    monkeypatch.setattr(
        lakehouse,
        "catalog_version",
        lambda r: 2 if _os.path.abspath(r) == _os.path.abspath(root) else real(r),
    )
    lakehouse.catalog_vacuum(root, retain_versions=1)  # horizon = {2}
    monkeypatch.undo()
    assert not _os.path.exists(_os.path.join(root, "_catalog_v1.json"))
    assert _os.path.exists(_os.path.join(root, "_catalog_v3.json"))
    got = sorted(
        r["k"]
        for r in lakehouse.catalog_read(
            spark, root, "a", at_catalog_version=3
        ).collect()
    )
    assert got == [0, 1, 2]


def test_lakehouse_append_through_swap_rename_mapping(spark, tmp_path):
    """A rename CYCLE (a→tmp, b→a, tmp→b) leaves the mapping
    {phys a: logical b, phys b: logical a}; the append-path
    logical→physical translation must apply it as ONE select — the old
    sequential withColumnRenamed spelling collided on the first rename
    and duplicated on the second (advice r6). Values must land in the
    right logical columns across the swap."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") + 100).alias("b")
    )
    assert lakehouse.snapshot_write(df, path, "append") == 1
    lakehouse.rename_column(path, "a", "tmpname")
    lakehouse.rename_column(path, "b", "a")
    v = lakehouse.rename_column(path, "tmpname", "b")
    # logical schema is now (b := old a, a := old b); append NEW rows in
    # logical terms: a (old b) = id+100, b (old a) = id
    more = spark.range(10, 20).select(
        (F.col("id") + 100).alias("a"), F.col("id").alias("b")
    )
    assert lakehouse.snapshot_write(more, path, "append") == v + 1
    rows = lakehouse.snapshot_read(spark, path).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["a"] == r["b"] + 100, f"swap translation corrupted row {r}"


def test_lakehouse_multi_table_commit_replay_is_idempotent(spark, tmp_path):
    """Replaying a batch_id DIRECTLY through multi_table_commit (not via
    stream_ingest_fanout's pre-check) must be a no-op returning the
    current catalog version — not a double-append that silently drops
    the duplicate id from the audit trail (advice r6)."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = str(tmp_path / "cat")
    df = spark.createDataFrame([(1,), (2,)], "k bigint")
    cv1 = lakehouse.multi_table_commit(spark, root, {"a": df}, batch_id=7)
    cv2 = lakehouse.multi_table_commit(spark, root, {"a": df}, batch_id=7)
    assert cv2 == cv1, "replayed batch must return the same catalog version"
    assert lakehouse.catalog_read(spark, root, "a").count() == 2  # no double rows
    with open(_os.path.join(root, f"_catalog_v{cv1}.json")) as f:
        assert _json.load(f)["batch_ids"] == [7]
    # a NEW batch id still commits normally on top
    cv3 = lakehouse.multi_table_commit(spark, root, {"a": df}, batch_id=8)
    assert cv3 == cv1 + 1
    assert lakehouse.catalog_read(spark, root, "a").count() == 4


def test_lakehouse_add_column_default_validates_type(spark, tmp_path):
    """An initial default that cannot cast to the declared type must
    fail AT DDL TIME — committing it used to succeed and then
    snapshot_read's lit(value).cast(dtype) silently turned every
    pre-add row's default into NULL (advice r6)."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(5).select(F.col("id").alias("k"))
    assert lakehouse.snapshot_write(df, path, "append") == 1
    with pytest.raises(ValueError, match="does not cast"):
        lakehouse.add_column_default(path, "src", "bigint", "web")
    # the failed DDL must not have committed anything
    assert lakehouse.current_version(path) == 1
    # a compatible default still works and reads back for pre-add rows
    v = lakehouse.add_column_default(path, "src", "string", "web")
    rows = lakehouse.snapshot_read(spark, path, v).collect()
    assert all(r["src"] == "web" for r in rows)


def test_lakehouse_metalog_access_count(spark, tmp_path, monkeypatch):
    """Manifest-list layer (r6 verdict item 5): with ~200 commits,
    table_history and snapshot_read_asof resolution must touch O(list)
    filesystem objects — ONE metalog read + one listdir — not one open
    per manifest. The first read over a pre-metalog table is allowed
    its one-time heal (it opens each manifest ONCE and caches the
    summary); every read after that opens ZERO manifests. Vacuumed
    versions resolve through tombstones, again without probing."""
    import builtins
    import json as _json
    import shutil as _shutil

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    for _ in range(3):
        lakehouse.snapshot_write(df, path, "append")
    # simulate a 200-commit pre-metalog table: clone v3's manifest into
    # v4..v203 directly (a foreign writer / older engine revision) and
    # drop the metalog so every line must come from the heal path
    with open(lakehouse._manifest_path(path, 3)) as f:
        m3 = _json.load(f)
    for v in range(4, 204):
        mv = {**m3, "version": v, "committed_at": 1000.0 + v}
        with open(lakehouse._manifest_path(path, v), "w") as f:
            _json.dump(mv, f)
    import os as _os

    _os.unlink(lakehouse._metalog_path(path))

    opens = {"n": 0}
    real_open = builtins.open

    def counting_open(file, *a, **kw):
        # count linked manifests only (tmps end .json.tmp<hex>)
        if (
            isinstance(file, str)
            and "_manifest_v" in _os.path.basename(file)
            and file.endswith(".json")
        ):
            opens["n"] += 1
        return real_open(file, *a, **kw)

    monkeypatch.setattr(builtins, "open", counting_open)
    hist = lakehouse.table_history(path)
    first = opens["n"]
    assert [h["version"] for h in hist] == list(range(1, 204))
    assert first <= 203, "heal must open each manifest at most once"

    opens["n"] = 0
    hist2 = lakehouse.table_history(path)
    assert hist2 == hist
    assert opens["n"] == 0, (
        f"steady-state history opened {opens['n']} manifests; "
        f"must be served from the metalog alone"
    )

    # AS OF resolution: 0 manifest opens to resolve, exactly 1 to read
    opens["n"] = 0
    got = lakehouse.snapshot_read_asof(spark, path, 1000.0 + 150)
    assert opens["n"] == 1, f"asof resolution opened {opens['n']} manifests"
    assert got.count() == 30  # v150 carries v3's files
    monkeypatch.setattr(builtins, "open", real_open)

    # vacuum expires most versions; history then serves tombstones
    # without probing the missing manifests
    lakehouse.vacuum(path, retain_versions=5)
    monkeypatch.setattr(builtins, "open", counting_open)
    opens["n"] = 0
    hist3 = lakehouse.table_history(path)
    assert [h["version"] for h in hist3] == list(range(199, 204))
    assert opens["n"] == 0, "post-vacuum history must not probe manifests"
    monkeypatch.setattr(builtins, "open", real_open)
    # compaction folded the log to one floor line + one per live version
    with open(lakehouse._metalog_path(path)) as f:
        lines = [ln for ln in f if ln.strip()]
    assert len(lines) == 6
    assert _json.loads(lines[0]) == {"floor": 203, "gen": 1}


def test_lakehouse_metalog_tombstone_crash_window_is_benign(spark, tmp_path):
    """vacuum writes the tombstone BEFORE removing a manifest (review
    finding r7: the reverse order left a summary line for a DELETED
    manifest that no reader re-probes — history kept reporting a dead
    version and AS OF resolution could 404). The crash window is now a
    tombstoned-but-present manifest, which must be (a) hidden from
    history, (b) still directly readable, and (c) swept by the next
    vacuum's listdir pass."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    for _ in range(3):
        lakehouse.snapshot_write(df, path, "append")
    # simulate the crash: tombstone appended, manifest NOT yet removed
    lakehouse._metalog_append(path, {"version": 1, "vacuumed": True})
    hist = lakehouse.table_history(path)
    assert [h["version"] for h in hist] == [2, 3]  # hidden from history
    assert lakehouse.snapshot_read(spark, path, 1).count() == 10  # readable
    lakehouse.vacuum(path, retain_versions=2)  # re-sweeps the orphan
    assert not _os.path.exists(lakehouse._manifest_path(path, 1))
    assert [h["version"] for h in lakehouse.table_history(path)] == [2, 3]
    # compacted log: floor line + the two live versions, no tombstones
    with open(lakehouse._metalog_path(path)) as f:
        recs = [_json.loads(ln) for ln in f if ln.strip()]
    assert recs[0] == {"floor": 3, "gen": 1}
    assert [r["version"] for r in recs[1:]] == [2, 3]


def test_lakehouse_vacuum_maintenance_lock(spark, tmp_path):
    """Manifest expiry and metalog compaction serialize under the
    maintenance lock (review finding r7 second pass: a tombstone
    appended into another process's compact read-then-replace window
    would be clobbered un-healably). While another holder owns the
    lock, vacuum must NOT expire manifests AND must not reclaim data
    files still reachable from those unexpirable manifests (advice r8:
    reclaiming them left a dangling snapshot — history listed the
    version, the read 404'd on deleted parquet). True orphans (files
    no manifest references) still reclaim. A stale crashed lock is
    broken after max_age_s."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df, path, "append")
    lakehouse.snapshot_write(df, path, "overwrite")  # v1 files unreachable
    with open(lakehouse._manifest_path(path, 1)) as f:
        v1_files = __import__("json").load(f)["files"]
    orphan = "data-orphan-test.parquet"
    with open(_os.path.join(path, orphan), "wb") as f:
        f.write(b"crash residue")  # rename landed, manifest link never did
    # another process holds the lock
    assert lakehouse._maintenance_lock(path)
    removed = lakehouse.vacuum(path, retain_versions=1)
    assert _os.path.exists(lakehouse._manifest_path(path, 1)), (
        "manifest expired despite a held maintenance lock"
    )
    assert all(
        _os.path.exists(_os.path.join(path, n)) for n in v1_files
    ), "data files of an unexpirable manifest reclaimed (dangling snapshot)"
    assert orphan in removed, (
        "true-orphan reclaim must proceed without the lock"
    )
    lakehouse._maintenance_unlock(path)
    # lock released: expiry proceeds (manifest + files together)
    lakehouse.vacuum(path, retain_versions=1)
    assert not _os.path.exists(lakehouse._manifest_path(path, 1))
    assert not any(_os.path.exists(_os.path.join(path, n)) for n in v1_files)
    # crashed holder: a LEFTOVER LOCK FILE with no live flock must not
    # block acquisition (flock is kernel-released on process death —
    # the r8 review showed every mtime-based stale-break protocol,
    # remove- or rename-based, is a check-then-destroy race; flock
    # removes the staleness concept entirely, and leaves no grave
    # residue by construction)
    with open(_os.path.join(path, "_metalog.lock"), "w") as f:
        f.write("999999")
    _os.utime(_os.path.join(path, "_metalog.lock"), (1, 1))  # ancient
    assert lakehouse._maintenance_lock(path), (
        "unflocked leftover lock file must not block"
    )
    lakehouse._maintenance_unlock(path)
    # and after release the lock is immediately re-acquirable
    assert lakehouse._maintenance_lock(path)
    lakehouse._maintenance_unlock(path)


def test_lakehouse_vacuum_tombstone_append_failure_keeps_files(
    spark, tmp_path, monkeypatch
):
    """When the must=True tombstone append fails (ENOSPC/EIO), vacuum
    keeps the manifest — and must ALSO keep that version's data files
    (r8 review: the file sweep otherwise reclaimed them in the same
    run, stranding the kept, still-listed manifest on deleted parquet
    — the dangling snapshot the contended-path fix targets)."""
    import json as _json
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df, path, "append")
    lakehouse.snapshot_write(df, path, "overwrite")  # v1 past retention
    with open(lakehouse._manifest_path(path, 1)) as f:
        v1_files = _json.load(f)["files"]
    real_append = lakehouse._metalog_append

    def fail_tombstones(p, rec, must=False):
        if must and rec.get("vacuumed"):
            return False  # simulated ENOSPC on the tombstone write
        return real_append(p, rec, must=must)

    monkeypatch.setattr(lakehouse, "_metalog_append", fail_tombstones)
    lakehouse.vacuum(path, retain_versions=1)
    monkeypatch.setattr(lakehouse, "_metalog_append", real_append)
    assert _os.path.exists(lakehouse._manifest_path(path, 1)), (
        "manifest removed despite tombstone append failure"
    )
    assert all(
        _os.path.exists(_os.path.join(path, n)) for n in v1_files
    ), "tombstone-append failure kept the manifest but lost its files"
    # v1 is still listed AND still readable — no dangling snapshot
    assert [h["version"] for h in lakehouse.table_history(path)] == [1, 2]
    assert lakehouse.snapshot_read(spark, path, 1).count() == 10
    # once appends work again, the next vacuum completes the expiry
    lakehouse.vacuum(path, retain_versions=1)
    assert not _os.path.exists(lakehouse._manifest_path(path, 1))
    assert not any(_os.path.exists(_os.path.join(path, n)) for n in v1_files)


def test_lakehouse_metalog_tombstone_wins_line_order(spark, tmp_path):
    """A summary line landing AFTER a tombstone for the same version
    must not resurrect it (advice r8: a reader's heal-append racing a
    vacuum — reader opens manifest v, vacuum tombstones and deletes
    it, reader appends the summary — would otherwise permanently
    revive a dead version: history reports it, AS-OF resolves to it,
    the read 404s, and compaction bakes the line in)."""
    import json as _json

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    for _ in range(3):
        lakehouse.snapshot_write(df, path, "append")
    stale_summary = {
        "version": 1, "mode": "append", "n_files": 1,
        "n_delete_files": 0, "n_batch_ids": 0,
        "cloned_from": None, "committed_at": 0.0,
    }
    # fence 1 (pre-compaction): tombstone line, then the straggler
    # summary, in the SAME un-compacted metalog — in-file order must
    # not decide liveness
    lakehouse._metalog_append(path, {"version": 1, "vacuumed": True})
    lakehouse._metalog_append(path, dict(stale_summary))
    assert [h["version"] for h in lakehouse.table_history(path)] == [2, 3], (
        "summary after tombstone resurrected a vacuumed version"
    )
    # undo the simulated tombstone (manifest v1 is still live) by
    # rewriting the log without the two injected lines, then run the
    # real vacuum — which tombstones v1, removes it and COMPACTS
    with open(lakehouse._metalog_path(path)) as f:
        kept = [ln for ln in f if '"version": 1' not in ln]
    with open(lakehouse._metalog_path(path), "w") as f:
        f.writelines(kept)
    lakehouse.vacuum(path, retain_versions=2)  # v1 tombstoned + removed
    # fence 2 (post-compaction): the tombstone is folded into the
    # floor, so only the generation stamp can reject the straggler
    lakehouse._metalog_append(path, dict(stale_summary))
    assert [h["version"] for h in lakehouse.table_history(path)] == [2, 3]
    # compaction must not bake the resurrected line in either
    assert lakehouse._maintenance_lock(path)
    try:
        lakehouse._metalog_compact(path)
    finally:
        lakehouse._maintenance_unlock(path)
    with open(lakehouse._metalog_path(path)) as f:
        recs = [_json.loads(ln) for ln in f if ln.strip()]
    assert 1 not in [r.get("version") for r in recs], (
        "post-tombstone summary resurrected a vacuumed version"
    )


def test_lakehouse_vacuum_releases_lock_on_sweep_error(spark, tmp_path, monkeypatch):
    """An exception mid-sweep must not leak the maintenance lock
    (advice r8: the old shape only released in the finally around
    _metalog_compact at the end, so an EACCES during the sweep blocked
    all maintenance for max_age_s)."""
    import os as _os

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(10).select(F.col("id").alias("k"))
    for _ in range(3):
        lakehouse.snapshot_write(df, path, "append")
    real_remove = _os.remove

    def explode_on_manifest(p, *a, **kw):
        if "_manifest_v" in _os.path.basename(p):
            raise PermissionError(13, "EACCES", p)
        return real_remove(p, *a, **kw)

    monkeypatch.setattr(lakehouse.os, "remove", explode_on_manifest)
    try:
        lakehouse.vacuum(path, retain_versions=1)
    except PermissionError:
        pass
    monkeypatch.setattr(lakehouse.os, "remove", real_remove)
    # the flock must have been released despite the mid-sweep
    # exception (the lock FILE remains — flock lives on the fd, not
    # the file) — proven by immediate re-acquirability
    assert lakehouse._maintenance_lock(path), (
        "sweep exception leaked the maintenance lock"
    )
    lakehouse._maintenance_unlock(path)
    # and the next vacuum (lock free) completes the expiry
    lakehouse.vacuum(path, retain_versions=1)
    assert not _os.path.exists(lakehouse._manifest_path(path, 1))


def test_lakehouse_generated_column_guards(spark, tmp_path):
    """Generated-column contract: a writer omitting the column gets it
    computed; a writer supplying a WRONG value is refused; declaring
    over violating data is refused; declaring a column absent from the
    schema is refused; the definition survives an overwrite."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "gen_tbl")
    base = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dbl")
    )
    lakehouse.snapshot_write(base, path, "append")
    # declaring a column not in the schema is refused
    with pytest.raises(ValueError, match="must exist in the schema"):
        lakehouse.set_generated_column(spark, path, "tripled", "k * 3")
    # declaring over violating data is refused
    with pytest.raises(ValueError, match="existing rows violate"):
        lakehouse.set_generated_column(spark, path, "dbl", "k * 3")
    lakehouse.set_generated_column(spark, path, "dbl", "k * 2")
    # omitted -> computed
    lakehouse.snapshot_write(
        spark.range(10, 13).select(F.col("id").alias("k")), path, "append"
    )
    got = {
        r["k"]: r["dbl"]
        for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert got[11] == 22 and len(got) == 13
    # supplied-but-wrong -> refused
    with pytest.raises(ValueError, match="violates its expression"):
        lakehouse.snapshot_write(
            spark.range(13, 14).select(
                F.col("id").alias("k"), F.lit(0).cast("bigint").alias("dbl")
            ),
            path,
            "append",
        )
    # the definition survives an overwrite (table property, like ids)
    lakehouse.snapshot_write(
        spark.range(5).select(F.col("id").alias("k")), path, "overwrite"
    )
    got2 = {
        r["k"]: r["dbl"]
        for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert got2 == {i: i * 2 for i in range(5)}


def test_lakehouse_identity_guards(spark, tmp_path):
    """IDENTITY contract: declared on an empty schema-bearing table,
    the next value is exactly `start`; appends OMITTING the column get
    disjoint contiguous ranges; a writer SUPPLYING the column is
    refused (GENERATED ALWAYS); declaring over duplicate data is
    refused; SYNC over valid data resumes past its max; the property
    survives overwrite, DELETE, and restore (preserve_identity)."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "id_tbl")
    empty = spark.range(0).select(
        F.col("id").alias("k"), F.lit(None).cast("bigint").alias("rid")
    )
    lakehouse.snapshot_write(empty, path, "append")
    with pytest.raises(ValueError, match="must be non-zero"):
        lakehouse.set_identity_column(spark, path, "rid", start=1, step=0)
    with pytest.raises(ValueError, match="must exist in the schema"):
        lakehouse.set_identity_column(spark, path, "nope")
    lakehouse.set_identity_column(spark, path, "rid", start=10, step=2)
    lakehouse.snapshot_write(
        spark.range(5).select(F.col("id").alias("k")), path, "append"
    )
    ids1 = sorted(
        r["rid"] for r in lakehouse.snapshot_read(spark, path).collect()
    )
    assert ids1 == [10, 12, 14, 16, 18]  # next value is exactly start
    lakehouse.snapshot_write(
        spark.range(5, 8).select(F.col("id").alias("k")), path, "append"
    )
    ids2 = sorted(
        r["rid"] for r in lakehouse.snapshot_read(spark, path).collect()
    )
    assert ids2 == [10, 12, 14, 16, 18, 20, 22, 24]  # contiguous, disjoint
    # GENERATED ALWAYS: supplying the column is refused
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        lakehouse.snapshot_write(
            spark.range(8, 9).select(
                F.col("id").alias("k"), F.lit(99).alias("rid")
            ),
            path,
            "append",
        )
    # DELETE carries the property (round-10 carry fix) and a
    # subsequent append keeps drawing fresh ids
    lakehouse.delete_where(
        spark, path, "k", spark.range(1).select(F.col("id").alias("k"))
    )
    lakehouse.snapshot_write(
        spark.range(8, 9).select(F.col("id").alias("k")), path, "append"
    )
    rows = {
        r["k"]: r["rid"]
        for r in lakehouse.snapshot_read_mor(spark, path).collect()
    }
    assert 0 not in rows and rows[8] == 26
    # compaction / restore preserve existing ids verbatim
    lakehouse.compact_mor(spark, path)
    assert {
        r["rid"] for r in lakehouse.snapshot_read(spark, path).collect()
    } == {12, 14, 16, 18, 20, 22, 24, 26}


def test_lakehouse_identity_sync_over_data(spark, tmp_path):
    """Declare-on-data (SYNC): duplicate or null existing values are
    refused; valid data sets the high-water mark past its max."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "sync_tbl")
    dup = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("rid")
    )
    lakehouse.snapshot_write(dup, path, "append")
    with pytest.raises(ValueError, match="non-null and distinct"):
        lakehouse.set_identity_column(spark, path, "rid")
    path2 = str(tmp_path / "sync_ok")
    ok = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("rid")
    )
    lakehouse.snapshot_write(ok, path2, "append")
    lakehouse.set_identity_column(spark, path2, "rid", start=1, step=1)
    lakehouse.snapshot_write(
        spark.range(4, 6).select(F.col("id").alias("k")), path2, "append"
    )
    ids = sorted(
        r["rid"] for r in lakehouse.snapshot_read(spark, path2).collect()
    )
    assert ids == [0, 7, 14, 21, 22, 23]  # resumes past max(existing)=21


def test_lakehouse_identity_two_writer_race(spark, tmp_path):
    """Two writers appending CONCURRENTLY must never publish duplicate
    ids: the loser of the link(2)/high-water race gets
    ConcurrentWriteError and retries the whole write, drawing a fresh
    range. After both settle: 2n rows, 2n DISTINCT ids, and the id set
    is exactly the contiguous range both commits together claimed."""
    import threading

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "race_tbl")
    empty = spark.range(0).select(
        F.col("id").alias("k"), F.lit(None).cast("bigint").alias("rid")
    )
    lakehouse.snapshot_write(empty, path, "append")
    lakehouse.set_identity_column(spark, path, "rid", start=1, step=1)
    errs: list = []

    def writer(lo: int, hi: int) -> None:
        df = spark.range(lo, hi).select(F.col("id").alias("k"))
        for _ in range(20):  # optimistic retry loop
            try:
                lakehouse.snapshot_write(df, path, "append")
                return
            except lakehouse.ConcurrentWriteError:
                continue
        errs.append(f"writer {lo} never won the race")

    t1 = threading.Thread(target=writer, args=(0, 500))
    t2 = threading.Thread(target=writer, args=(500, 1000))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    rows = lakehouse.snapshot_read(spark, path).collect()
    ids = sorted(r["rid"] for r in rows)
    assert len(rows) == 1000
    assert ids == list(range(1, 1001))  # distinct AND contiguous


# Each OVERWRITE rewrite built from a read of the table: (the reader it
# calls, the call). The table holds (k, x) for k in 0..3 at version 1.
_REWRITES = {
    "merge_into": ("snapshot_read_mor", lambda lh, spark, path: lh.merge_into(
        spark, path, spark.range(2).select(
            F.col("id").alias("k"), F.lit(9).cast("bigint").alias("x")
        ), "k", ["x"],
    )),
    "merge_into_latest": ("snapshot_read_mor", lambda lh, spark, path: (
        lh.merge_into_latest(spark, path, spark.range(2).select(
            F.col("id").alias("k"), F.lit(9).cast("bigint").alias("x")
        ), "k", ["x"], [])
    )),
    "compact_mor": ("snapshot_read_mor", lambda lh, spark, path: (
        lh.compact_mor(spark, path)
    )),
    "optimize_zorder": ("snapshot_read", lambda lh, spark, path: (
        lh.optimize_zorder(spark, path, ("k", "x"), files=2)
    )),
    "restore_table": ("snapshot_read_mor", lambda lh, spark, path: (
        lh.restore_table(spark, path, 1)
    )),
}


@pytest.mark.parametrize("rewrite", sorted(_REWRITES))
def test_lakehouse_rewrite_two_writer_race(spark, tmp_path, monkeypatch, rewrite):
    """A rewrite reads the table at version v and publishes an
    OVERWRITE. An append committed between the read and the publish
    must not vanish from the new snapshot: the rewrite raises
    ConcurrentWriteError and the append stays readable."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "rewrite_race")
    lakehouse.snapshot_write(
        spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 2).alias("x")),
        path, "append",
    )
    reader, call = _REWRITES[rewrite]
    real = getattr(lakehouse, reader)
    fired: list = []

    def racing_read(*args, **kwargs):
        df = real(*args, **kwargs)
        if not fired:
            fired.append(True)
            lakehouse.snapshot_write(
                spark.range(100, 103).select(
                    F.col("id").alias("k"), F.col("id").alias("x")
                ),
                path, "append",
            )
        return df

    monkeypatch.setattr(lakehouse, reader, racing_read)
    with pytest.raises(lakehouse.ConcurrentWriteError):
        call(lakehouse, spark, path)
    assert fired
    keys = {r["k"] for r in lakehouse.snapshot_read(spark, path).collect()}
    assert keys == {0, 1, 2, 3, 100, 101, 102}


def test_lakehouse_delete_and_clone_carry_generated(spark, tmp_path):
    """Round-10 carry fix: a DELETE snapshot and a CLONE must both
    preserve the generated-column property — before the fix their
    hand-built manifests silently un-declared the DDL, so a later
    append would skip compute/validation."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "gen_carry")
    base = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dbl")
    )
    lakehouse.snapshot_write(base, path, "append")
    lakehouse.set_generated_column(spark, path, "dbl", "k * 2")
    lakehouse.delete_where(
        spark, path, "k", spark.range(1).select(F.col("id").alias("k"))
    )
    # after the delete, an append omitting the column must STILL be
    # computed (property survived)
    lakehouse.snapshot_write(
        spark.range(6, 8).select(F.col("id").alias("k")), path, "append"
    )
    got = {
        r["k"]: r["dbl"]
        for r in lakehouse.snapshot_read_mor(spark, path).collect()
    }
    assert got[7] == 14 and 0 not in got
    # clone: the property rides along
    dst = str(tmp_path / "gen_clone")
    lakehouse.snapshot_clone(path, dst)
    lakehouse.snapshot_write(
        spark.range(8, 9).select(F.col("id").alias("k")), dst, "append"
    )
    got2 = {
        r["k"]: r["dbl"]
        for r in lakehouse.snapshot_read_mor(spark, dst).collect()
    }
    assert got2[8] == 16


def test_lakehouse_check_constraint_guards(spark, tmp_path):
    """CHECK contract: violating append is REFUSED (not filtered);
    NULL passes (SQL CHECK semantics); declaring over violating data
    is refused; the constraint survives DELETE, overwrite, and
    clone."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "chk_tbl")
    base = spark.range(1, 6).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(base, path, "append")
    with pytest.raises(ValueError, match="existing rows violate"):
        lakehouse.add_check_constraint(spark, path, "big", "k > 3")
    lakehouse.add_check_constraint(spark, path, "positive", "k > 0")
    with pytest.raises(ValueError, match="violates CHECK"):
        lakehouse.snapshot_write(
            spark.range(0, 1).select(F.col("id").alias("k")), path, "append"
        )
    # NULL passes
    lakehouse.snapshot_write(
        spark.range(1).select(F.lit(None).cast("bigint").alias("k")),
        path,
        "append",
    )
    # survives DELETE and overwrite
    lakehouse.delete_where(
        spark, path, "k", spark.range(1, 2).select(F.col("id").alias("k"))
    )
    lakehouse.snapshot_write(
        spark.range(7, 9).select(F.col("id").alias("k")), path, "overwrite"
    )
    with pytest.raises(ValueError, match="violates CHECK"):
        lakehouse.snapshot_write(
            spark.range(-1, 0).select(F.col("id").alias("k")),
            path,
            "overwrite",
        )
    # clone carries the constraint
    dst = str(tmp_path / "chk_clone")
    lakehouse.snapshot_clone(path, dst)
    with pytest.raises(ValueError, match="violates CHECK"):
        lakehouse.snapshot_write(
            spark.range(-1, 0).select(F.col("id").alias("k")), dst, "append"
        )


def test_lakehouse_generated_column_refuses_a_racing_append(
    spark, tmp_path, monkeypatch
):
    """set_generated_column validates the standing data at version v,
    so its commit must refuse once the table has moved past v. Here a
    writer appends a violating row (k=9, dbl=-1) right after the
    validation read resolved its files; publishing the declaration
    would claim ``dbl = k * 2`` over data that breaks it."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "gen_race")
    lakehouse.snapshot_write(
        spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 2).alias("dbl")),
        path,
        "append",
    )
    real_read = lakehouse.snapshot_read

    def racing_read(*args, **kwargs):
        out = real_read(*args, **kwargs)
        monkeypatch.setattr(lakehouse, "snapshot_read", real_read)
        lakehouse.snapshot_write(
            spark.createDataFrame([(9, -1)], "k bigint, dbl bigint"), path, "append"
        )
        return out

    monkeypatch.setattr(lakehouse, "snapshot_read", racing_read)
    with pytest.raises(lakehouse.ConcurrentWriteError, match="table moved"):
        lakehouse.set_generated_column(spark, path, "dbl", "k * 2")
    assert [h["mode"] for h in lakehouse.table_history(path)] == ["append", "append"]


def test_lakehouse_bloom_index_commits_as_its_own_mode(spark, tmp_path, monkeypatch):
    """add_bloom_index publishes through the shared DDL loop: history
    reports the commit as ``add_bloom`` (not the copied ``append``), it
    carries its own commit time, and a race it loses — another writer
    claims the version it would publish — raises ConcurrentWriteError
    and leaves no ``_manifest_vN.json.tmp*`` behind."""
    import json as _json

    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "bloom_tbl")
    lakehouse.snapshot_write(
        spark.range(20).select(F.col("id").alias("k")), path, "append"
    )
    assert lakehouse.add_bloom_index(path, "k", spark) == 2
    assert [h["mode"] for h in lakehouse.table_history(path)] == ["append", "add_bloom"]
    stamps = {}
    for v in (1, 2):
        with open(lakehouse._manifest_path(path, v)) as f:
            stamps[v] = _json.load(f)["committed_at"]
    assert stamps[2] > stamps[1]

    # the directory listing goes stale: the index builds on v2 while
    # another writer lands v3, and the claim of v3 is lost
    real_cv = lakehouse.current_version
    calls = {"n": 0}

    def stale_cv(p):
        calls["n"] += 1
        if calls["n"] == 1:
            monkeypatch.setattr(lakehouse, "current_version", real_cv)
            lakehouse.snapshot_write(
                spark.range(20, 25).select(F.col("id").alias("k")), path, "append"
            )
            monkeypatch.setattr(lakehouse, "current_version", stale_cv)
        return 2 if calls["n"] <= 2 else real_cv(p)

    monkeypatch.setattr(lakehouse, "current_version", stale_cv)
    with pytest.raises(lakehouse.ConcurrentWriteError):
        lakehouse.add_bloom_index(path, "k", spark)
    monkeypatch.setattr(lakehouse, "current_version", real_cv)
    assert real_cv(path) == 3
    assert [n for n in os.listdir(path) if ".tmp" in n] == []


def test_lakehouse_merge_keeps_identity_and_refuses_inserts(spark, tmp_path):
    """MERGE on an identity table: matched and carried rows keep their
    ids (the overwrite preserves them), while a merge that would INSERT
    — the rewrite cannot draw fresh ids, so the new rows would publish
    NULL — or that would UPDATE the identity column is refused with the
    table unchanged."""
    import pytest

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "id_merge")
    lakehouse.snapshot_write(
        spark.range(0).select(
            F.col("id").alias("k"),
            F.lit(None).cast("bigint").alias("rid"),
            F.lit(None).cast("bigint").alias("v"),
        ),
        path,
        "append",
    )
    lakehouse.set_identity_column(spark, path, "rid", start=1, step=1)
    lakehouse.snapshot_write(
        spark.range(4).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v")),
        path,
        "append",
    )
    ids = {r["k"]: r["rid"] for r in lakehouse.snapshot_read(spark, path).collect()}
    assert sorted(ids.values()) == [1, 2, 3, 4]
    lakehouse.merge_into(
        spark, path, spark.createDataFrame([(1, 111), (3, 333)], "k bigint, v bigint"),
        "k", ["v"],
    )
    got = {
        r["k"]: (r["rid"], r["v"])
        for r in lakehouse.snapshot_read(spark, path).collect()
    }
    assert got == {0: (ids[0], 0), 1: (ids[1], 111), 2: (ids[2], 20), 3: (ids[3], 333)}
    v = lakehouse.current_version(path)
    upsert = spark.createDataFrame([(1, 5), (9, 99)], "k bigint, v bigint")
    with pytest.raises(ValueError, match="insert rows into a table with identity"):
        lakehouse.merge_into(spark, path, upsert, "k", ["v"])
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        lakehouse.merge_into(
            spark, path, upsert.select("k", F.col("v").alias("rid")), "k", ["rid"]
        )
    assert lakehouse.current_version(path) == v


@pytest.mark.parametrize("read", ["defaults", "mor"])
def test_lakehouse_grouped_reads_union_in_one_order(spark, tmp_path, monkeypatch, read):
    """snapshot_read (defaults) and snapshot_read_mor group the data files
    by what applies to them and union the groups. The branch order must
    not follow the random uuid file names: force the pre-change file to
    sort first, then last, and expect the same rows in the same order."""
    import itertools
    import types

    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    def rows(tag, first_prefix, second_prefix):
        prefix, count = [first_prefix], itertools.count()
        monkeypatch.setattr(
            lakehouse,
            "uuid",
            types.SimpleNamespace(
                uuid4=lambda: types.SimpleNamespace(hex=f"{prefix[0]}{next(count):031x}")
            ),
        )
        path = str(tmp_path / tag)
        lakehouse.snapshot_write(
            spark.range(4).select(F.col("id").alias("k")).coalesce(1), path, "append"
        )
        if read == "defaults":
            lakehouse.add_column_default(path, "c", "string", "old")
            later = spark.range(4, 8).select(F.col("id").alias("k"), F.lit("new").alias("c"))
        else:
            lakehouse.delete_where(
                spark, path, "k", spark.range(1).select(F.col("id").alias("k"))
            )
            later = spark.range(4, 8).select(F.col("id").alias("k"))
        prefix[0] = second_prefix
        lakehouse.snapshot_write(later.coalesce(1), path, "append")
        m = lakehouse._manifest(path, lakehouse.current_version(path))
        assert len(m["files"]) == 2
        reader = lakehouse.snapshot_read if read == "defaults" else lakehouse.snapshot_read_mor
        return [r["k"] for r in reader(spark, path).collect()]

    older_first = rows("a", "0", "f")
    older_last = rows("b", "f", "0")
    assert sorted(older_first) == sorted(older_last)
    assert older_first == older_last


@pytest.fixture(scope="module")
def carry_base(spark, tmp_path_factory):
    """A lakehouse table carrying every inheritable property: a clone
    (v1) of a table with a generated and an identity column, then a
    CHECK constraint (v2), an append with batch id 7 (v3) and a bloom
    index on k (v4). Tests copy it rather than write into it."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    root = tmp_path_factory.mktemp("carry_base")
    src, path = str(root / "src"), str(root / "tbl")
    lakehouse.snapshot_write(
        spark.range(6).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("dbl"),
            (F.col("id") + 1).alias("rid"),
        ),
        src,
        "append",
    )
    lakehouse.set_generated_column(spark, src, "dbl", "k * 2")
    lakehouse.set_identity_column(spark, src, "rid")
    lakehouse.snapshot_clone(src, path)
    lakehouse.add_check_constraint(spark, path, "nonneg", "k >= 0")
    lakehouse.snapshot_write(
        spark.range(6, 8).select(F.col("id").alias("k")), path, "append", batch_id=7
    )
    lakehouse.add_bloom_index(path, "k", spark)
    return path


def _commit_of_kind(spark, lakehouse, kind: str, path: str) -> str:
    """Make one commit of ``kind`` on the table at ``path``; returns the
    path of the table that received it."""
    k = F.col("id").alias("k")
    if kind == "append":
        lakehouse.snapshot_write(spark.range(8, 10).select(k), path, "append")
    elif kind == "overwrite":
        lakehouse.snapshot_write(spark.range(3).select(k), path, "overwrite")
    elif kind == "delete":
        lakehouse.delete_where(spark, path, "k", spark.range(1).select(k))
    elif kind == "rename":
        lakehouse.rename_column(path, "k", "key")
    elif kind == "add_column":
        lakehouse.add_column_default(path, "c", "bigint", 7)
    elif kind == "set_generated":
        lakehouse.set_generated_column(spark, path, "dbl", "k + k")
    elif kind == "add_check":
        lakehouse.add_check_constraint(spark, path, "small", "k < 1000")
    elif kind == "set_identity":
        lakehouse.set_identity_column(spark, path, "rid", start=100)
    elif kind == "add_bloom":
        lakehouse.add_bloom_index(path, "dbl", spark)
    elif kind == "clone":
        dst = path + "_clone"
        lakehouse.snapshot_clone(path, dst)
        return dst
    else:  # merge: a DDL on a branch, fast-forwarded into main
        bpath = lakehouse.create_branch(path, "b")
        lakehouse.add_check_constraint(spark, bpath, "small", "k < 1000")
        lakehouse.merge_branch_ff(path, "b")
    return path


@pytest.mark.parametrize(
    "kind",
    [
        "append", "overwrite", "delete", "rename", "add_column", "set_generated",
        "add_check", "set_identity", "add_bloom", "clone", "merge",
    ],
)
def test_lakehouse_commit_kinds_follow_the_carry_rule(spark, tmp_path, carry_base, kind):
    """Every commit kind keeps or changes the manifest keys exactly as
    the carry rule in the lakehouse module docstring says: schema,
    generated, identity, checks and batch_ids survive unless the kind
    sets them; cloned_from appears only on a clone's own version and
    merged_from only on a merged one; a data commit drops the bloom
    index and every other kind keeps it; and a point read after a
    delete never returns a deleted key."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    shutil.copytree(carry_base, path)
    before = lakehouse._manifest(path, lakehouse.current_version(path))
    target = _commit_of_kind(spark, lakehouse, kind, path)
    after = lakehouse._manifest(target, lakehouse.current_version(target))

    def props(m):
        return {
            "names": [fl["name"] for fl in m["schema"]["fields"]],
            "generated": m.get("generated", {}),
            "identity": {
                c: (d["start"], d["step"]) for c, d in m.get("identity", {}).items()
            },
            "checks": m.get("checks", {}),
            "batch_ids": m.get("batch_ids", []),
        }

    want = props(before)
    if kind == "rename":
        want["names"] = ["key" if n == "k" else n for n in want["names"]]
    elif kind == "add_column":
        want["names"] = want["names"] + ["c"]
    elif kind == "set_generated":
        want["generated"] = {"dbl": "k + k"}
    elif kind in ("add_check", "merge"):
        want["checks"] = {**want["checks"], "small": "k < 1000"}
    elif kind == "set_identity":
        want["identity"] = {"rid": (100, 1)}
    elif kind == "clone":
        want["batch_ids"] = []
    assert props(after) == want
    assert ("cloned_from" in after) == (kind == "clone")
    assert ("merged_from" in after) == (kind == "merge")
    history = lakehouse.table_history(target)
    assert [h["cloned_from"] is not None for h in history] == [
        h["mode"] == "clone" for h in history
    ], history
    data_commit = kind in ("append", "overwrite", "delete")
    assert ("blooms" in after) == (not data_commit)
    assert ("bloom_col" in after) == (not data_commit)
    if "blooms" in after:
        assert set(after["blooms"]) == set(after["files"])
    if kind == "delete":
        try:
            got = [r["k"] for r in lakehouse.snapshot_read_point(spark, path, "k", 0).collect()]
        except ValueError:  # the delete dropped the index
            got = []
        assert 0 not in got


def test_lakehouse_point_read_after_erase_matches_a_filtered_scan(spark, tmp_path):
    """erase_rows rewrites the files holding the erased rows; each
    replacement inherits the bloom words of the file it replaces, so a
    bloom-pruned point read still equals a full scan + filter."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    lakehouse.snapshot_write(
        spark.range(20).select(F.col("id").alias("k")).repartition(4, "k"), path, "append"
    )
    lakehouse.add_bloom_index(path, "k", spark)
    assert lakehouse.erase_rows(spark, path, "k", 5) == 1
    for value in (3, 5, 17, 25):
        point = sorted(
            r["k"] for r in lakehouse.snapshot_read_point(spark, path, "k", value).collect()
        )
        scan = sorted(
            r["k"]
            for r in lakehouse.snapshot_read(spark, path).filter(F.col("k") == value).collect()
        )
        assert point == scan, value


def test_lakehouse_write_mode_is_checked_under_python_O(spark, tmp_path):
    """snapshot_write's argument checks raise ValueError rather than
    assert (``python -O`` strips asserts, and a mistyped mode would then
    fall through to overwrite semantics); a refused call publishes
    nothing."""
    from embarrassingly_parallel_image_classification_spark.plans import lakehouse

    path = str(tmp_path / "tbl")
    df = spark.range(3).select(F.col("id").alias("k"))
    lakehouse.snapshot_write(df, path, "append")
    with pytest.raises(ValueError, match="append"):
        lakehouse.snapshot_write(df, path, "Append")
    with pytest.raises(ValueError, match="extra_defaults"):
        lakehouse.snapshot_write(df, path, "append", extra_defaults={"c": {}})
    assert lakehouse.current_version(path) == 1
