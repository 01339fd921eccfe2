"""The surviving scripts/ tooling: it compiles, and the one plan parser
behind `scripts/profile.py plans` counts scans and flags pin joins."""

from __future__ import annotations

import glob
import importlib.util
import os
import py_compile
import subprocess
import sys

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _profile():
    spec = importlib.util.spec_from_file_location(
        "scripts_profile", os.path.join(ROOT, "scripts", "profile.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_scripts_compile():
    paths = glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    assert paths
    for path in paths:
        py_compile.compile(path, doraise=True)


def test_plans_counts_one_scan_per_tpch_q5_table(spark):
    from embarrassingly_parallel_image_classification_spark import registry

    df = registry.queries()["q_tpch_q5"](spark, SF_SMOKE)
    assert _profile().inspect(df)["tables"] == {
        t: 1 for t in ("region", "nation", "customer", "supplier", "orders", "lineitem")
    }


def test_pin_flag_fires_on_merge_join_over_a_pin_only(spark):
    inspect = _profile().inspect
    pinned = spark.range(10).localCheckpoint(eager=True)
    merged = pinned.join(spark.range(100).hint("merge"), "id")
    assert inspect(merged)["pins"] == ["SortMergeJoin[pin:left]"]
    broadcast = F.broadcast(pinned).join(spark.range(100), "id")
    assert inspect(broadcast)["pins"] == []


def test_compare_skips_zero_timings_and_sums_subsets_over_shared_members():
    from bench import SUBSET22

    prev = {q: 1.0 for q in SUBSET22}
    now = {q: 2.0 for q in SUBSET22}
    now[SUBSET22[0]] = 0.0  # rounds to zero: no ratio, no log(0)
    del prev[SUBSET22[1]]  # a SUBSET22 member absent from one record
    out = _profile().compare(prev, now)
    assert out["geomean_now_over_prev"] == 2.0
    assert out["not_ratioed"] == [SUBSET22[0]]
    assert out["subset22_missing"] == [SUBSET22[1]]
    assert out["subset22_prev"] == len(SUBSET22) - 1
    assert out["subset22_now"] == 2.0 * (len(SUBSET22) - 2)


def test_scripts_import_pyspark_beside_profile_py():
    """Run as a script, scripts/profile.py would shadow the stdlib
    `profile` that pyspark loads through cProfile, unless each script
    drops scripts/ from sys.path before importing pyspark."""

    def run(script, *args):
        return subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", script), *args],
            capture_output=True, text=True, check=True, cwd=ROOT,
        ).stdout

    with open(os.path.join(ROOT, "QUERIES.md")) as f:
        assert run("gen_queries_md.py") == f.read()
    bench = os.path.join(ROOT, "BENCH_full.json")
    assert '"geomean_now_over_prev": 1.0' in run("profile.py", "compare", bench, bench)


def test_plans_summary_and_dump_match_across_processes(tmp_path):
    """Two runs of `plans --dump` over a lakehouse query print the same
    summary row and write the same dump: a scan is named by its table,
    not its first data file's uuid, and the dump masks session ids,
    uuids and the scratch directory's pid."""

    def run(suffix):
        return subprocess.run(
            [sys.executable, os.path.join(ROOT, "scripts", "profile.py"), "plans",
             "q_lake_clone", "--dump", str(tmp_path), suffix],
            capture_output=True, text=True, check=True, cwd=ROOT,
            env={**os.environ, "SPARK_GRAFT_SF_DIR": SF_SMOKE},
        ).stdout

    rows = [run(suffix) for suffix in ("a", "b")]
    assert "lake_clone_src" in rows[0] and rows[0] == rows[1]
    a, b = ((tmp_path / f"q_lake_clone_{s}.txt").read_text() for s in "ab")
    assert "Location" in a and a == b
    # every oracle is dumped beside the plans, pid-masked, so a
    # cross-tree oracle check is `diff -r` of two dump dirs
    from embarrassingly_parallel_image_classification_spark import registry

    oracles = {p.name for p in tmp_path.glob("*_a.oracle.sql")}
    assert oracles == {f"{n}_a.oracle.sql" for n in registry.oracles()}
    a, b = ((tmp_path / f"q_scan_provenance_{s}.oracle.sql").read_text() for s in "ab")
    assert "_<pid>" in a and a == b


def test_stable_masks_the_pid_only_in_scratch_names():
    """`stable` masks the pid where it ends a scratch name (a scratch
    dir, a bucketed table) and renumbers a lambda variable whose
    number happens to equal the pid like any other."""
    from embarrassingly_parallel_image_classification_spark.plans.scale import (
        bucket_table_names,
    )
    from embarrassingly_parallel_image_classification_spark.sources.formats import scratch

    pid = os.getpid()
    table = bucket_table_names(SF_SMOKE)[0]
    text = (
        f"Project [lambda x_7, lambda y_{pid}, lambda z_3] "
        f"Location: {scratch('lake_merge', SF_SMOKE)}/part-0.parquet "
        f"Scan {table}"
    )
    got = _profile().stable(text)
    sf = os.path.basename(SF_SMOKE)
    assert "lambda x_1, lambda y_2, lambda z_3" in got
    assert f"lake_merge_{sf}_<pid>/part-0.parquet" in got
    assert f"lineitem_b_{sf.replace('.', '_')}_<pid>" in got
    assert str(pid) not in got


def test_time_counts_every_pass_past_the_job_retention():
    """`profile.py time` reads each (query, pass) job group right after
    that pass. With the status store keeping only the last 2 jobs, a
    three-pass run over two one-scan lines still counts the first
    line's jobs in every pass, the same per pass as the second line's;
    a read after all passes finds the first line's jobs evicted."""
    import json

    names = ["q_project", "q_filter"]
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "profile.py"), "time",
         *names, "--passes", "3"],
        capture_output=True, text=True, check=True, cwd=ROOT,
        env={
            **os.environ,
            "SPARK_GRAFT_SF_DIR": SF_SMOKE,
            "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.retainedJobs=2 pyspark-shell",
        },
    ).stdout
    rec = json.loads(out.strip().splitlines()[-1])["queries"]
    jobs = [rec[n]["jobs"] for n in names]
    assert jobs[0] == jobs[1] >= 1, rec
