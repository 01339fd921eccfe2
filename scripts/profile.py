"""One query loop and four views of it: plans, time, scaling, compare.

    python scripts/profile.py plans                      # HEADLINE, one row per query
    python scripts/profile.py plans --all q_stats        # full registry, substring filter
    python scripts/profile.py plans --top 40 --dump audit before # plans/audit/<q>_before.txt
                                                                 # (+ <q>_before.oracle.sql per oracle)
    python scripts/profile.py plans --md > PLAN_AUDIT.md
    python scripts/profile.py time q_tpch_q5 q_market_basket --passes 10
    python scripts/profile.py scaling --k 16 q_tpch_q21 q_dedup_substring
    python scripts/profile.py compare HEAD~1:BENCH_full.json BENCH_full.json

plans, time and scaling pick queries the same way. Positional arguments
that are all registered names run in the order given. Otherwise each
argument is a substring filter over bench.HEADLINE, over the whole
registry with --all, or over the N slowest lines of BENCH_full.json
with --top N. Every query is built through registry.queries(); one that
raises is reported as ERR on stderr and the loop moves on.

Data comes from $SPARK_GRAFT_SF_DIR: sf0.01 by default for plans, sf0.1
for time.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Drop scripts/ from sys.path: this file would shadow the stdlib
# `profile` module that pyspark loads through cProfile.
sys.path[:] = [ROOT] + [p for p in sys.path if p != HERE]

PY_NODES = (
    r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas|"
    r"MapInArrow|PythonMapInArrow"
)
JOINS = (
    r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct"
)
# A pin (localCheckpoint => RDDScanExec, or a literal LocalTableScanExec)
# carries no size statistics, so the planner assumes it is huge: a
# non-broadcast join over one is flagged for deliberate review.
PIN_JOINS = ("SortMergeJoinExec", "ShuffledHashJoinExec", "CartesianProductExec")
PIN_SCANS = ("RDDScanExec", "LocalTableScanExec")


def each(names, fn, errors: dict):
    """Yield (name, fn(name)) per name; a raise is recorded in `errors`
    and printed, and the loop moves on. Names already in `errors` are
    skipped."""
    for n in names:
        if n in errors:
            continue
        try:
            out = fn(n)
        except Exception as ex:  # noqa: BLE001 — one query never stops the run
            errors[n] = f"{type(ex).__name__}: {str(ex).strip()[:200]}"
            print(f"ERR  {n}: {errors[n]}", file=sys.stderr, flush=True)
            continue
        yield n, out


def select(a, qs) -> list[str]:
    if a.names and all(n in qs for n in a.names) and not (a.all or a.top):
        return a.names
    if a.top:
        with open(os.path.join(ROOT, "BENCH_full.json")) as f:
            timings = json.load(f)["queries"]
        pool = sorted(timings, key=timings.get, reverse=True)[: a.top]
    elif a.all:
        pool = sorted(qs)
    else:
        from bench import HEADLINE

        pool = HEADLINE
    return [n for n in pool if not a.names or any(s in n for s in a.names)]


def sf_dir(default: str) -> str:
    """$SPARK_GRAFT_SF_DIR, else the `default` fixture beside the
    driver's smoke fixture."""
    from __spark_entry__ import SMOKE_SF_DIR

    return os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.dirname(SMOKE_SF_DIR), default
    )


def session(app: str):
    from embarrassingly_parallel_image_classification_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _pin_walk(node, flags: list) -> bool:
    """Append a flag per pin-flagged join below `node` (children first);
    return whether the subtree holds a pin scan."""
    kids = node.children()
    sides = [_pin_walk(kids.apply(i), flags) for i in range(kids.size())]
    name = node.getClass().getSimpleName()
    if name in PIN_JOINS and len(sides) == 2 and any(sides):
        which = "both" if all(sides) else ("left" if sides[0] else "right")
        flags.append(f"{name.replace('Exec', '')}[pin:{which}]")
    return name in PIN_SCANS or any(sides)


# A dump names the same plan differently from run to run: expression,
# lambda-variable, common-subexpression, plan and RDD ids count up
# through the session, an RDD's call site depends on JVM warm-up
# (NativeMethodAccessorImpl.java:0 early, <unknown>:0 later), scratch
# names end in the process id (`scratch_tag`), and lakehouse data files
# carry random uuids. `stable` renumbers each id family in first-seen
# order (links inside one plan survive) and masks the call sites, the
# pid of the scratch names (`mask_scratch_pid`: elsewhere the same
# digits are an id, so a lambda variable numbered like the pid is
# renumbered, not masked) and the uuids, so two runs of one tree, or
# two trees, diff cleanly. A uuid is masked,
# not renumbered: a scan's Location shows the first of its files in
# name order, so which file shows is itself random.
IDS = (r"(#)(\d+)", r"(lambda \w+?_)(\d+)", r"(_common_expr_)(\d+)", r"(plan_id=)(\d+)",
       r"(RDD\[)(\d+)")
UUID = r"[0-9a-f]{8}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{4}-?[0-9a-f]{12}"


def stable(text: str) -> str:
    """`text` with ids renumbered in first-seen order, and RDD call
    sites, the pid of the scratch names and every uuid masked."""
    from embarrassingly_parallel_image_classification_spark.sources.formats import (
        mask_scratch_pid,
    )

    text = mask_scratch_pid(text)
    text = re.sub(r"(RDD\[\d+\] at \w+ at )\S+:\d+", r"\1<site>", text)
    text = re.sub(UUID, "<uuid>", text)
    for pattern in IDS:
        seen: dict[str, str] = {}
        text = re.sub(pattern, lambda m: m[1] + seen.setdefault(m[2], str(len(seen) + 1)), text)
    return text


def table_of(path: str) -> str:
    """A scanned parquet path's table: a fixture file's stem, else (a
    data file under a table directory) the directory, pid removed."""
    stem = os.path.basename(path).split(".")[0]
    if not re.search(UUID, stem):
        return stem
    return re.sub(rf"_{os.getpid()}$", "", os.path.basename(os.path.dirname(path)))


def inspect(df) -> dict:
    """Plan properties from one capture of the formatted plan and the
    pre-AQE physical plan (`sparkPlan()`)."""
    qe = df._jdf.queryExecution()
    plan = df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
    full = plan.split("== Physical Plan ==")[-1]
    # Tree section only: the numbered detail section repeats every
    # operator name, and an executed AQE plan repeats the whole tree
    # under "== Initial Plan ==".
    tree = full.split("== Initial Plan ==")[0].split("\n(1) ")[0]
    pins: list[str] = []
    _pin_walk(qe.sparkPlan(), pins)
    return {
        "plan": plan,
        "tables": Counter(
            table_of(f) for f in re.findall(r"Location:[^\n]*?([\w./-]+)\.parquet", plan)
        ),
        "exchanges": len(re.findall(r"\bExchange\b", tree)),
        "joins": Counter(re.findall(JOINS, tree)),
        "python": re.findall(PY_NODES, tree),
        "pushdown": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        # codegen ids live in the detail section; set() dedupes repeats
        "wscg": len(set(re.findall(r"codegen id : (\d+)", full))),
        "aqe": "AdaptiveSparkPlan" in plan,
        "pins": pins,
    }


MD_HEADER = """\
# Physical-plan audit (generated by `scripts/profile.py plans --md`)

Headline queries at {sf}; scale-relevant properties extracted
from `.explain("formatted")`. Streaming queries are excluded
(their batch-result plan is not the streaming job). Python
boundaries shown are Arrow-vectorized unless named BatchEval.

Reading notes: a WSCG count of 0 on an AQE plan means codegen
annotations aren't materialized until execution (AQE prints the
pre-execution plan) — NOT that codegen is off; non-AQE plans
show their true span count. `pushdown: —` on filter-less scans
is expected (nothing to push). q_graph_pagerank's 50 exchanges
are its 10 unrolled PageRank iterations × per-iteration
join+agg — the audited trade-off (one analyzed plan, engine-
owned dataflow) documented in operators/graph.py.

| query | exchanges | joins | parquet pushdown | WSCG spans | python boundary | AQE |
|---|---|---|---|---|---|---|"""


def plans(a) -> None:
    """One row per batch query: total parquet scans, scans per table,
    exchanges, Python-boundary nodes, joins, pushdown, WSCG spans, AQE
    and pin-join flags (`sort -rn` ranks repeated scans first)."""
    from embarrassingly_parallel_image_classification_spark import registry

    sf = sf_dir("sf0.01")
    qs = registry.queries()
    names = [n for n in select(a, qs) if not n.startswith("q_stream_")]
    spark = session("profile-plans")
    if a.dump:
        outdir = os.path.join(ROOT, "plans", a.dump[0])
        os.makedirs(outdir, exist_ok=True)
        for name, sql in registry.oracles().items():
            with open(os.path.join(outdir, f"{name}_{a.dump[1]}.oracle.sql"), "w") as f:
                f.write(stable(sql) + "\n")
    if a.md:
        print(MD_HEADER.format(sf=sf))
    errors: dict[str, str] = {}
    flagged = 0
    yes = {True: "yes", False: "—"}
    for name, p in each(names, lambda n: inspect(qs[n](spark, sf)), errors):
        if a.dump:
            with open(os.path.join(outdir, f"{name}_{a.dump[1]}.txt"), "w") as f:
                f.write(stable(p["plan"]) + "\n")
        joins = ", ".join(
            f"{k.replace('Join', '')}×{v}" for k, v in sorted(p["joins"].items())
        )
        if a.md:
            print(
                f"| {name} | {p['exchanges']} | {joins or '—'} | {yes[p['pushdown']]} "
                f"| {p['wscg']} | {', '.join(sorted(set(p['python']))) or '—'} "
                f"| {yes[p['aqe']]} |"
            )
            continue
        flagged += bool(p["pins"])
        tables = " ".join(f"{k}x{v}" for k, v in sorted(p["tables"].items()))
        print(
            f"{sum(p['tables'].values()):3d}  {name:38s} {tables or '-'} | "
            f"exchanges={p['exchanges']} python={len(p['python'])} "
            f"joins={joins.replace(' ', '') or '-'} pushdown={yes[p['pushdown']]} "
            f"wscg={p['wscg']} aqe={yes[p['aqe']]} pins={','.join(p['pins']) or '-'}",
            flush=True,
        )
    print(
        f"# {len(names)} queries, {flagged} pin-flagged, {len(errors)} errors",
        file=sys.stderr,
    )


def time_queries(a) -> None:
    """Warm pass, then min over --passes interleaved passes of build_s
    (until the DataFrame is returned) and total_s (build + noop sink),
    plus per pass the jobs of the query's job group, their summed wall
    time, the driver gap total_s - job wall, and the jobs launched by
    localframe.pin (description "pin:<label>") with their wall time.
    The last stdout line is the JSON record. Each (query, pass) runs in
    its own job group, read from the status store right after that pass
    with the listener bus drained: the store keeps only the last
    spark.ui.retainedJobs (1000) jobs, so a read after all passes would
    miss the early passes' jobs."""
    from embarrassingly_parallel_image_classification_spark import registry

    sf = sf_dir("sf0.1")
    qs = registry.queries()
    names = select(a, qs)
    spark = session("profile-time")
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def run(n):
        t0 = time.perf_counter()
        df = qs[n](spark, sf)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return t1 - t0, time.perf_counter() - t0

    def jobs_of(group) -> list[float]:
        """[jobs, summed job wall s, pin jobs, pin wall s] of one group."""
        jsc.listenerBus().waitUntilEmpty()
        tally = [0, 0.0, 0, 0.0]
        for j in sc.statusTracker().getJobIdsForGroup(group):
            jd = jsc.statusStore().job(j)
            dt = 0.0
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                dt = (
                    jd.completionTime().get().getTime()
                    - jd.submissionTime().get().getTime()
                ) / 1000
            desc = jd.description()
            pin = desc.isDefined() and desc.get().startswith("pin:")
            for i, v in enumerate((1, dt, int(pin), dt if pin else 0.0)):
                tally[i] += v
        return tally

    def grouped(n, p):
        group = f"{n}#{p}"
        sc.setJobGroup(group, f"profile:{n}")
        out = run(n)
        return out, jobs_of(group)

    errors: dict[str, str] = {}
    # untimed warm pass: JIT, parquet footers, Python workers, index builds
    for _ in each(names, run, errors):
        pass
    best: dict[str, list[float]] = {}
    tallies: dict[str, list[float]] = {}
    for p in range(a.passes):
        for n, ((b, t), tally) in each(names, lambda n: grouped(n, p), errors):
            old = best.get(n, [math.inf, math.inf])
            best[n] = [min(old[0], b), min(old[1], t)]
            tallies[n] = [x + y for x, y in zip(tallies.get(n, [0] * 4), tally)]
    out = {}
    for n, (b, t) in best.items():
        if n in errors:
            continue
        jobs, wall, pins, pin_wall = tallies[n]
        out[n] = {
            "total_s": round(t, 3),
            "build_s": round(b, 3),
            "jobs": round(jobs / a.passes, 1),
            "job_wall_s": round(wall / a.passes, 3),
            "gap_s": round(t - wall / a.passes, 3),
            "pins": round(pins / a.passes, 1),
            "pin_s": round(pin_wall / a.passes, 3),
        }
    print(f"loadavg={os.getloadavg()}")
    print(
        f"{'total_s':>8s} {'build_s':>8s} {'jobs':>6s} {'job_wall':>8s} "
        f"{'gap':>7s} {'pins':>5s} {'pin_s':>7s}  query"
    )
    for n, r in out.items():
        print(
            f"{r['total_s']:8.3f} {r['build_s']:8.3f} {r['jobs']:6.1f} "
            f"{r['job_wall_s']:8.3f} {r['gap_s']:7.3f} {r['pins']:5.1f} "
            f"{r['pin_s']:7.3f}  {n}"
        )
    print(json.dumps({"sf_dir": sf, "passes": a.passes, "queries": out, "errors": errors}))


def scaling(a) -> None:
    """Build the scale_ladder K× blow-up once, then run `time` over it in
    fresh subprocesses at nproc and nproc // 4 cores. A plan that
    parallelizes shows t(low)/t(high) up to 4; a driver-bound chain ~1."""
    from embarrassingly_parallel_image_classification_spark import registry
    from scripts.scale_ladder import build_blowup

    names = select(a, registry.queries())
    high = len(os.sched_getaffinity(0))
    cores = (high, max(1, high // 4))
    spark = session("profile-scaling-gen")
    blow = build_blowup(spark, a.k)
    spark.stop()
    results: dict[int, dict] = {}
    try:
        for c in cores:
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(c), SPARK_GRAFT_SF_DIR=blow)
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "time", *names],
                env=env, capture_output=True, text=True, cwd=ROOT,
            )
            try:
                results[c] = json.loads(proc.stdout.splitlines()[-1])["queries"]
            except (IndexError, ValueError, KeyError):
                print(proc.stderr[-3000:], file=sys.stderr)
                results[c] = {}
    finally:
        shutil.rmtree(blow, ignore_errors=True)
    hi, lo = cores
    print(f"\n| query | t@{hi}c (s) | t@{lo}c (s) | t{lo}/t{hi} |")
    print("|---|---|---|---|")
    rows = []
    for n in names:
        th = results[hi].get(n, {}).get("total_s")
        tl = results[lo].get(n, {}).get("total_s")
        ratio = round(tl / th, 3) if th and tl is not None else None
        rows.append({"query": n, f"t{hi}": th, f"t{lo}": tl, "ratio": ratio})
        print("| " + " | ".join([n] + ["n/a" if v is None else f"{v:.2f}" for v in (th, tl, ratio)]) + " |")
    print(json.dumps({"metric": "core_scaling", "k": a.k, "cores": cores, "rows": rows}))


def load_record(spec: str) -> dict:
    """Per-query timings of a bench record; `rev:path` is read through
    `git show`."""
    if ":" in spec and not os.path.exists(spec):
        rec = json.loads(subprocess.check_output(["git", "show", spec], cwd=ROOT))
    else:
        with open(spec) as f:
            rec = json.load(f)
    return rec["queries"] if "queries" in rec else rec


def compare(prev: dict, now: dict) -> dict:
    """Common-set totals, geomean now/prev over lines timed > 0 in both,
    the >10% lists, and SUBSET22/38 summed over members in both records
    (members missing from either are listed, never silently dropped)."""
    from bench import SUBSET22, SUBSET38

    common = sorted(set(prev) & set(now))
    ratios = {q: now[q] / prev[q] for q in common if prev[q] > 0 and now[q] > 0}
    out = {
        "n_common": len(common),
        "prev_total_common": round(sum(prev[q] for q in common), 3),
        "now_total_common": round(sum(now[q] for q in common), 3),
        "geomean_now_over_prev": round(
            math.exp(sum(map(math.log, ratios.values())) / len(ratios)), 4
        ) if ratios else None,
        "not_ratioed": [q for q in common if q not in ratios],
        "regressed_gt10pct": sorted((q for q, r in ratios.items() if r > 1.1), key=lambda q: -ratios[q]),
        "improved_gt10pct": sorted((q for q, r in ratios.items() if r < 0.9), key=ratios.get),
        "dropped": sorted(set(prev) - set(now)),
        "added": sorted(set(now) - set(prev)),
    }
    for tag, subset in (("subset22", SUBSET22), ("subset38", SUBSET38)):
        both = [q for q in subset if q in prev and q in now]
        out[f"{tag}_prev"] = round(sum(prev[q] for q in both), 3)
        out[f"{tag}_now"] = round(sum(now[q] for q in both), 3)
        out[f"{tag}_missing"] = [q for q in subset if q not in both]
    return out


def compare_cmd(a) -> None:
    prev, now = load_record(a.prev), load_record(a.now)
    out = compare(prev, now)
    print(json.dumps(out, indent=2))
    for title, key in (("regressed >10% (worst first)", "regressed_gt10pct"),
                       ("improved >10% (best first)", "improved_gt10pct")):
        print(f"\n{title}:")
        for q in out[key]:
            print(f"  {now[q] / prev[q]:6.2f}x  {prev[q]:7.3f} -> {now[q]:7.3f}  {q}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    def picker(name: str, fn, help: str):
        p = sub.add_parser(name, help=help)
        p.add_argument("names", nargs="*", help="query names or substrings")
        p.add_argument("--all", action="store_true", help="pick from the full registry")
        p.add_argument("--top", type=int, help="pick from the N slowest lines of BENCH_full.json")
        p.set_defaults(fn=fn)
        return p

    p = picker("plans", plans, "one plan-property row per batch query")
    p.add_argument("--dump", nargs=2, metavar=("TAG", "SUFFIX"),
                   help="write plans/TAG/<query>_SUFFIX.txt, and every oracle"
                   " as plans/TAG/<query>_SUFFIX.oracle.sql")
    p.add_argument("--md", action="store_true", help="print PLAN_AUDIT.md")
    p = picker("time", time_queries, "warm min-of-N build/total timing and jobs")
    p.add_argument("--passes", type=int, default=3)
    p = picker("scaling", scaling, "t(nproc // 4) / t(nproc) on the K× blow-up")
    p.add_argument("--k", type=int, default=16)
    p = sub.add_parser("compare", help="diff two per-query bench records")
    p.add_argument("prev")
    p.add_argument("now")
    p.set_defaults(fn=compare_cmd)
    a = ap.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
